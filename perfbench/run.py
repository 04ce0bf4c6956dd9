#!/usr/bin/env python3
"""Engine benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (both at local[4], one JVM per run):
  mr_wordindex  word count and inverted index through graft.mr.MRJob.runToText
                over a seeded 16-file corpus into a text sink, checked against a
                sequential port of the reference's mrsequential program
  query_mix     short SparkEntry queries plus a multi-job dedup entry on the
                generated tables, noop sink, checked against expected.json

The first run in a checkout compiles the engine plus the harness with sbt
(perfbench/build.sbt) and generates the tables (gen_tables.py); later runs
reuse both from the work directory ($CARGO_TARGET_DIR, default
.bench_build). The last stdout line is
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer ones. Every run also
appends its full record (metrics, context, fingerprints) to
<work>/results.jsonl, which compare.py reads; a traced run writes its
spans to <work>/traces/<run_id>.jsonl.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("mr_wordindex", "query_mix")
TABLE_SF = 0.01
TABLE_SEED = 42
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
# Fixed heap (-Xms = -Xmx) so the peak RSS does not follow G1's adaptive
# heap growth from run to run.
JVM_HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = {
    "setup_s": "s", "cold_lap_s": "s", "warm_lap_s": "s",
    "throughput_mb_s": "MB/s", "ok_frac": "frac", "rss_peak_mb": "MB",
}

# Per-layer metrics of a traced run, each totalled per traced lap (median
# over the run's traced laps); setup metrics are medians over the set-ups.
PER_LAYER = {
    "tables.session_ms": "ms", "tables.load_ms": "ms", "tables.load_jobs": "count",
    "entry.build_ms": "ms", "entry.build_jobs": "count",
    "plan.ms": "ms", "plan.nodes": "count",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.task_gc_ms": "ms",
    "exec.core_busy_frac": "frac", "exec.driver_gap_ms": "ms", "exec.task_retries": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.records": "count",
    "shuffle.fetch_wait_ms": "ms", "shuffle.spill_mb": "MB", "shuffle.peak_exec_mem_mb": "MB",
    "mr.map_stage_ms": "ms", "mr.reduce_stage_ms": "ms", "mr.sink_stage_ms": "ms",
    "mr.shuffles": "count", "mr.shuffle_records_per_token": "frac",
    "sink.output_mb": "MB", "sink.files": "count",
    "streaming.batches": "count", "streaming.batch_ms": "ms", "streaming.state_rows": "count",
    "functions.word_shingles.rows_per_s": "rows/s", "functions.minhash_sig.rows_per_s": "rows/s",
    "functions.hyperplane_sigs.rows_per_s": "rows/s", "functions.vec_dot.rows_per_s": "rows/s",
    "functions.topk.rows_per_s": "rows/s",
    "trace.accounted_frac": "frac", "trace.overhead_frac": "frac",
}


class BenchError(Exception):
    pass


def work_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_logged(cmd, cwd, env, log_path, timeout):
    """Run cmd in its own process group, output to log_path; kill the
    whole group if it outlives timeout. Returns (exit code, stdout)."""
    with open(log_path, "ab") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=err, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"{cmd[0]} exceeded {timeout:.0f} s; see {log_path}")
    return p.returncode, out.decode("utf-8", "replace")


def tail(path, n=20):
    try:
        with open(path, encoding="utf-8", errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_hash():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(work):
    """Compile engine + harness once per source state; returns the classes dir."""
    if not os.path.isdir(ENGINE_SRC):
        raise BenchError(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}")
    if shutil.which("sbt") is None:
        raise BenchError("sbt not on PATH")
    target = os.path.join(work, "sbt-target")
    classes = os.path.join(target, "scala-2.13", "classes")
    stamp = os.path.join(work, "build.stamp")
    digest = source_hash()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, False
    env = dict(os.environ, PERFBENCH_TARGET=target)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(work, "logs", "build.log")
    log("building engine + harness (sbt compile)")
    code, _ = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                          "compile"], HERE, env, log_path, 600)
    if code != 0 or not os.path.isdir(classes):
        raise BenchError(f"build failed (exit {code}):\n{tail(log_path)}")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, True


def tables(work):
    """The input tables, generated once per checkout (and generator
    version) from a fixed seed."""
    with open(os.path.join(HERE, "gen_tables.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(work, f"tables-sf{TABLE_SF}-s{TABLE_SEED}-{version}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    code = subprocess.call([sys.executable, os.path.join(HERE, "gen_tables.py"), "--sf", str(TABLE_SF),
                            "--seed", str(TABLE_SEED), "--out", tmp], stdout=sys.stderr)
    if code != 0:
        raise BenchError("table generation failed")
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def run_jvm(work, classes, data, workload, seed, seconds, trace, extra=(), limit=RUN_LIMIT_S):
    """One benchmark JVM; returns its parsed result line."""
    if limit < 30:
        raise BenchError(f"no time left for the benchmark JVM ({limit:.0f} s)")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        raise BenchError("SPARK_HOME must point at a Spark install with jars/")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cmd = [java]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # -UsePerfData: no hsperfdata file outside the work directory.
    cmd += [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", os.pathsep.join([classes, os.path.join(spark_home, "jars", "*")]),
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--data", data, "--work", work, *extra]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(work, "logs", f"{workload}-s{seed}-t{trace}.log")
    if os.path.exists(log_path):
        os.remove(log_path)
    code, out = run_logged(cmd, work, env, log_path, limit)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        raise BenchError(f"benchmark JVM failed (exit {code}):\n{tail(log_path)}")
    return json.loads(lines[-1])


def check(workload, rec):
    """Failures: operations that threw, MR outputs that differ from the
    sequential oracle, and fingerprints that differ from expected.json."""
    failed = int(rec["threw"])
    notes = dict(rec["errors"])
    failed += sum(1 for ok in rec["mr_checks"].values() if not ok)
    if workload != "mr_wordindex":
        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)[workload]
        for op, want in expected.items():
            got = rec["fingerprints"].get(op)
            if got is None and op in rec["errors"]:
                continue  # already counted where it threw
            if got != want["fingerprint"]:
                failed += 1
                notes[op] = f"fingerprint {got} != expected {want['fingerprint']}"
    return failed, notes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.monotonic()
    work = work_dir()
    os.makedirs(os.path.join(work, "logs"), exist_ok=True)
    try:
        classes, built = build(work)
        data = tables(work)
        # A run that had to build may take longer in all (first run of a checkout).
        limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)
        rec = run_jvm(work, classes, data, a.workload, a.seed, a.seconds, a.trace, limit=limit)
        failed, notes = check(a.workload, rec)
    except BenchError as e:
        log(str(e))
        sys.exit(2)
    attempted = int(rec["attempted"])
    if a.trace:
        metrics = {k: {"value": rec["per_layer"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        e2e = dict(rec["end_to_end"], ok_frac=1.0 - failed / attempted)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    for op, msg in notes.items():
        log(f"{a.workload}/{op}: {msg}")
    with open(os.path.join(work, "results.jsonl"), "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                            "failed": failed, "notes": notes, "metrics": metrics,
                            "context": rec["context"], "fingerprints": rec["fingerprints"]}) + "\n")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
