#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cube-explore --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds graft and the
benchmark from source with sbt into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the build while the sources are
unchanged. Each run starts one JVM with Spark local[N] (N = min(4,
cores)), sets up the workload from the seed, measures for --seconds,
checks the outputs, and prints a readable summary followed by one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones.
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
WORKLOADS = ["cube-explore", "cube-ingest", "cube-mixed", "corpus-build"]

# name -> unit; the end-to-end metrics every workload reports untraced
END_TO_END = {
    "setup_s": "s",
    "req_p50_ms": "ms",
    "req_per_s": "1/s",
    "heap_retained_mb": "MB",
}

CORPUS_STAGES = ["text.quality", "dedup.exact", "dedup.near", "dedup.clusters",
                 "dedup.spans", "text.lines", "text.lm", "text.tokenizer",
                 "sim.index", "sim.search"]
STAGE_METRICS = {"ms": "ms", "jobs": "count", "task_cpu_s": "s",
                 "shuffle_bytes": "bytes", "spill_bytes": "bytes", "straggler": "ratio"}

# name -> unit; the per-layer metrics a traced run reports. A layer the
# workload does not call reads 0.
PER_LAYER = {
    "url.parse.ms": "ms", "nav.ms": "ms", "render.ms": "ms",
    "request.unspanned_ms": "ms",
    "board.hit.ms": "ms", "board.hit.jobs": "count",
    "board.hit_ratio": "ratio", "board.reuse_ratio": "ratio",
    "board.miss.ms": "ms", "board.miss.jobs": "count",
    "board.miss.input_bytes": "bytes", "board.miss.shuffle_bytes": "bytes",
    "board.remiss_ratio": "ratio",
    "board.append.ms": "ms", "board.append.jobs": "count",
    "board.append.shuffle_bytes": "bytes", "board.delete.ms": "ms",
    "board.warehouse_bytes": "bytes",
    **{f"{s}.{m}": u for s in CORPUS_STAGES for m, u in STAGE_METRICS.items()},
    "dedup.near.pair_yield": "ratio", "sim.index.bytes": "bytes",
    "sim.search.recall": "ratio",
    "jvm.gc_s": "s", "jvm.heap_growth_mb": "MB", "trace.overhead_ratio": "ratio",
    "error_ratio": "ratio", "write_p50_ms": "ms", "bytes_stored_ratio": "ratio",
    "docs_per_s": "1/s",
}

JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
              "java.base/java.lang.reflect", "java.base/java.io",
              "java.base/java.net", "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent",
              "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
              "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]

RUN_LIMIT_S = 175


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads from the checkout, sorted."""
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src", "main", "scala")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def build(build_dir):
    """Compile graft + the benchmark with sbt unless the sources are unchanged;
    return the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    env = dict(os.environ, CARGO_TARGET_DIR=build_dir)
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (log: {log})")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_jvm(classpath, args, build_dir, deadline):
    """Run the benchmark JVM in its own scratch dir inside the build dir;
    return its report."""
    work = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "java-tmp"))
    spans_dir = os.path.join(build_dir, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    report = os.path.join(work, "report.json")
    cmd = ["java", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={work}/java-tmp",
           f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--report", report,
            "--spans", os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl")]
    if args.tiny:
        cmd.append("--tiny")
    log_path = os.path.join(build_dir, "last-run.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                rc = p.wait(timeout=max(1, deadline - time.time()))
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail(f"run exceeded its time limit (log: {log_path})")
        if rc != 0 or not os.path.exists(report):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark JVM exited with {rc} (log: {log_path})")
        with open(report) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def summary(rep):
    """Readable lines: every end-to-end metric with its statistic and sample
    count, the input properties, and the per-layer metrics of a traced run."""
    out = [f"# {rep['workload']} seed={rep['seed']} trace={int(rep['trace'])} "
           f"cores={rep['cores']} measured_s={rep['measured_s']:.2f} "
           f"attempted={rep['attempted']} failed={rep['failed']}"]
    for name, m in sorted(rep["end_to_end"].items()):
        extra = " ".join(f"{k}={m[k]}" for k in ("stat", "n") if k in m)
        out.append(f"  {name:<20} {m['value']:>14.4f} {m['unit']:<6} {extra}")
    out.append("  properties: " + json.dumps(rep["properties"], sort_keys=True))
    for name in sorted(rep["per_layer"]):
        out.append(f"  layer {name:<34} {rep['per_layer'][name]:.6g}")
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args()
    start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources (src/main/scala/graft) not found; run from a full checkout")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    classpath = build(build_dir)
    if time.time() - start > 60:  # a fresh build: the first run may take longer
        start = time.time()
    rep = run_jvm(classpath, args, build_dir, start + RUN_LIMIT_S)

    print(summary(rep))
    if args.trace:
        names = PER_LAYER
        values = rep["per_layer"]
    else:
        names = END_TO_END
        values = {k: v["value"] for k, v in rep["end_to_end"].items()}
    metrics = {k: {"value": float(values.get(k, 0.0) or 0.0), "unit": u} for k, u in names.items()}
    print(json.dumps({"correct": rep["failed"] == 0, "attempted": rep["attempted"],
                      "failed": rep["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
