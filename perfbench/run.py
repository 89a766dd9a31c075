#!/usr/bin/env python3
"""Benchmark entry point: build the program from this checkout, run one
workload in a fresh run directory, check its outputs, print its metrics.

    python3 perfbench/run.py --workload ask --seed 1 --seconds 8 --trace 0

The last stdout line is one JSON object {correct, attempted, failed, metrics};
with --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. The line before it carries run details
(digests, sample counts, the tail percentile). See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN = "graft.perfbench.Main"
HEAP = "3g"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 780
# Spark 4 on JDK 17 outside spark-submit needs these (as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TAIL_PERCENTILES = (99, 95, 90, 75, 50)


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def read(path):
    with open(path) as f:
        return f.read()


def load_spec():
    return json.loads(read(os.path.join(ROOT, "BENCHMARK.json")))


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    (sbt and java start children of their own) and wait for it. Returns
    (returncode or None on timeout, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def sources_stamp():
    """Hash of everything the build reads, to rebuild only on change."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(home):
    """Compile the program's sources and the harness into the build dir."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        fail("program sources (src/main/scala/graft) not found next to perfbench/")
    out = build_dir()
    classes = os.path.join(out, "scala-2.13", "classes")
    stamp_file = os.path.join(out, "sources.sha256")
    stamp = sources_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file) and read(stamp_file) == stamp:
        return classes
    env = dict(os.environ, SPARK_HOME=home, PERFBENCH_TARGET=out, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        rc, _ = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], BUILD_TIMEOUT_S,
                          cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.isdir(classes):
        sys.stderr.write(read(log)[-4000:])
        fail(f"build failed (log: {log})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def jvm(classes, home, run_dir, args):
    """Run the harness JVM in `run_dir`; return its PERFBENCH result dict."""
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", f"{classes}{os.pathsep}{os.path.join(home, 'jars', '*')}", MAIN] + args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        rc, out = run_child(cmd, JVM_TIMEOUT_S, cwd=run_dir, stdout=subprocess.PIPE, stderr=lf, text=True)
    if rc is None:
        return None, f"harness timed out after {JVM_TIMEOUT_S} s"
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if rc != 0 or not lines:
        return None, read(log)[-4000:]
    return json.loads(lines[-1][len("PERFBENCH "):]), None


def input_digest(workload, seed):
    """Digest of a workload's generated inputs for `seed`, without Spark."""
    home = spark_home()
    classes = build(home)
    run_dir = os.path.join(ROOT, ".bench_runs", f"digest-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        res, err = jvm(classes, home, run_dir, ["--workload", workload, "--seed", str(seed),
                                                "--dir", run_dir, "--gen-only", "1"])
        if res is None:
            fail(err)
        return res["input_digest"]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def tail_percentile(samples, min_beyond=10):
    """The highest of TAIL_PERCENTILES with at least `min_beyond` samples
    strictly above it, as (percentile, value); None if there is none."""
    if len(samples) < 2:
        return None
    q = statistics.quantiles(samples, n=100, method="inclusive")
    for p in TAIL_PERCENTILES:
        if sum(1 for x in samples if x > q[p - 1]) >= min_beyond:
            return p, q[p - 1]
    return None


def table_digest(path):
    """Order-independent digest of a parquet output's rows."""
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    rows = sorted(repr(tuple(r[c] for c in sorted(t.column_names))) for r in t.to_pylist())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:24]


def oracle_check(run_dir):
    """Compare every catalog output with its DuckDB oracle using the repo's
    own checker (tools/check.py); return (failing query names, digest)."""
    out = os.path.join(run_dir, "out")
    names = sorted(json.loads(read(os.path.join(out, "oracle_sql.json"))))
    tool = os.path.join(ROOT, "tools", "check.py")
    if not os.path.exists(tool):
        fail("tools/check.py not found")
    _, stdout = run_child([sys.executable, tool, os.path.join(run_dir, "tables"), out] + names,
                          60, cwd=run_dir, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    stdout = stdout or ""
    passed = set(re.findall(r"^PASS (\S+)", stdout, re.M))
    failing = [n for n in names if n not in passed]
    for line in stdout.splitlines():
        if line.startswith("FAIL"):
            print(f"[perfbench] {line}", file=sys.stderr)
    digest = hashlib.sha256("".join(table_digest(os.path.join(out, n)) for n in names).encode())
    return failing, len(names), digest.hexdigest()[:24]


def metrics(spec, res, trace):
    """The run's metrics, named and united exactly as BENCHMARK.json declares."""
    if not trace:
        values = {
            "setup_s": statistics.median(res["setup_s"]),
            "op_p50_ms": statistics.median(res["samples_ms"]),
            "units_per_s": res["units"] / res["window_s"],
            "retained_heap_mb": res["retained_heap_mb"],
        }
        declared = spec["end_to_end"]
    else:
        values = dict(res["layers"])
        plain = statistics.median(res["samples_ms"])
        values["trace.overhead_pct"] = 100.0 * (statistics.median(res["traced_samples_ms"]) - plain) / plain
        declared = spec["per_layer"]
    names = {m["name"] for m in declared}
    unknown = sorted(set(values) - names)
    if unknown:
        fail(f"harness reported undeclared metrics {unknown}")
    if not trace and set(values) != names:
        fail(f"missing end-to-end metrics {sorted(names - set(values))}")
    # a per-layer metric of a layer this workload never calls reads 0
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in declared}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = load_spec()
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    home = spark_home()
    classes = build(home)
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".bench_runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "warehouse", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    spans_dir = os.path.join(ROOT, ".bench_spans")
    os.makedirs(spans_dir, exist_ok=True)
    spans = os.path.join(spans_dir, f"{a.workload}-seed{a.seed}.jsonl")
    try:
        res, err = jvm(classes, home, run_dir, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--dir", run_dir, "--cores", str(cores), "--spans", spans])
        if res is None:
            sys.stderr.write(err + "\n")
            fail("harness run failed")
        attempted, failed = res["attempted"], res["failed"]
        output_digest = res["output_digest"]
        if a.workload == "catalog":
            failing, n_queries, output_digest = oracle_check(run_dir)
            # a query with a wrong result failed every time it ran
            failed += len(failing) * (attempted // n_queries)
        tail = tail_percentile(res["samples_ms"])
        detail = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores, "heap": HEAP,
            "input_digest": res["input_digest"], "output_digest": output_digest,
            "samples": len(res["samples_ms"]),
            "tail": {"percentile": tail[0], "ms": tail[1]} if tail else None,
            "setup_reps_s": res["setup_s"],
        }
        if a.trace:
            detail["spans"] = os.path.relpath(spans, ROOT)
        print(json.dumps({"perfbench": detail}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics(spec, res, a.trace)}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
