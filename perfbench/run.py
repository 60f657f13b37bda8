#!/usr/bin/env python3
"""graft's benchmark: one workload per run, end-to-end or traced.

    python3 perfbench/run.py --workload serve|batch --seed N \
        --seconds S --trace 0|1

Run it from the root of a graft checkout. It compiles graft's sources
and the benchmark's Scala harness (perfbench/scala) with the Scala
compiler that ships in Spark's jar directory ($SPARK_HOME/jars, or the
jars beside the spark-submit on PATH) into .bench_build/, once per
source state; generates
the workload's input tables from the seed; runs the workload in one JVM;
checks the outputs; and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans go to .bench_out/. Exits 1 after the result
line when a correctness check fails, and 2, with no result line, when
graft's sources are not there or the run breaks.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing beside the sources

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("serve", "batch")
# generated input size (scale factor; lineitem = 6M x sf)
SCALE = 0.01
# every per-layer metric a traced run reports; a layer the workload does
# not exercise reads 0
PER_LAYER = (
    "ops.static_rtt_ms", "ops.static_rtt_fresh_ms", "ops.mcp_frame_ms", "ops.overhead_ms",
    "sql.shim_ms", "sql.plan_ms", "sql.plan_jobs", "sql.querylog_refresh_ms",
    "sql.render_ms", "sql.wait_ms", "plans.rules_ms",
    "catalog.tool_p50_ms", "catalog.list_tables_ms", "catalog.list_databases_ms",
    "catalog.describe_ms", "catalog.files_listed",
    "catalog.ingest_list_tables_ms", "catalog.ingest_files_listed",
    "operators.build_ms", "operators.build_jobs", "operators.dedup_incr_ms",
    "operators.index_append_ms", "operators.planted_found_ratio", "ingest.batch_ms",
    "sources.write_ms", "sources.file_read_ms", "sources.compact_ms",
    "sources.bytes_written_per_input_byte", "sources.files_written",
    "spark.optimize_ms", "spark.physical_ms", "spark.exec_ms", "spark.task_run_ms",
    "spark.task_cpu_ms", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.input_bytes", "spark.peak_exec_mem_bytes",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.sched_delay_ms",
    "spark.codegen_compiles", "spark.codegen_ms",
    "plans.sort_aggregate_nodes", "plans.global_window_nodes", "plans.exchange_nodes",
    "functions.codegen_fallback_nodes", "trace.overhead_ms", "trace.overhead_pct")
RUN_LIMIT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or ".", "jars", "*.jar")))
    if not jars:
        fail("no Spark jars: set SPARK_HOME")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail(f"graft's sources (src/main/scala) are not under {root}")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build(root, jars):
    """Compile graft plus the harness into .bench_build/classes-<hash>,
    reusing it while no source changes."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out_root = os.path.join(root, ".bench_build")
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    for old in glob.glob(os.path.join(out_root, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(out_root, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.pathsep.join(jars)
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed:\n" + r.stdout[-4000:])
    os.rename(tmp, classes)
    print(f"# built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def run_jvm(args, root, classes, jars, work, data, deadline):
    # a fixed heap and young generation, so peak RSS depends neither on
    # when the heap grew nor on how G1 sized the young generation
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn768m", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(root, "src/main/resources")] + jars),
              "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--work", work, "--bench", HERE,
              "--cpus", str(os.cpu_count() or 1)])
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)
    try:
        out, _ = p.communicate(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("workload timed out")
    finally:
        log.close()
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"workload exited with {p.returncode}:\n{tail}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    jars = spark_jars()
    classes = build(root, jars)
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        gen.write(args.seed, SCALE, data)
        res = run_jvm(args, root, classes, jars, work, data, deadline)
        checks = list(res["checks"])
        failed = res["failed"]
        if args.workload == "batch":
            bad = oracle.compare(os.path.join(work, "out"), data, res["notes"]["queries"])
            checks += bad
            failed += len({b.split(":")[0] for b in bad})
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for c in checks[:20]:
        print(f"# check failed: {c}")
    notes = dict(res.get("notes", {}))
    notes["succeeded"] = res["attempted"] - failed
    print(f"# {args.workload}: attempted={res['attempted']} failed={failed} "
          f"checks_failed={len(checks)} wall={time.time() - started:.1f}s "
          f"notes={json.dumps(notes, sort_keys=True)[:2000]}")
    values = res["metrics"]
    if args.trace:
        values = {k: values.get(k, 0.0) for k in PER_LAYER}
    units = {"setup_s": "s", "mem_peak_mb": "MB", "throughput_per_s": "1/s"}
    metrics = {k: {"value": v, "unit": units.get(k, unit_of(k))}
               for k, v in sorted(values.items())}
    print(json.dumps({"correct": not checks, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    if checks:
        sys.exit(1)


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_ratio") or name.endswith("_per_input_byte"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
