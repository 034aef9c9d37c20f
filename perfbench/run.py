#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. The first run builds graft and
the benchmark from source into .bench_build/ (scalac from the jars of
the Spark distribution at $SPARK_HOME, else of the pyspark package) and
records a class-data-sharing archive for the JVM. Every run stages its
seeded inputs, runs one JVM (perfbench/scala/PerfBench.scala), checks
every operation's output against its DuckDB reference, prints each
metric by name and unit, and ends with one JSON line: {"correct",
"attempted", "failed", "metrics"}. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. Workloads and metrics are described in perfbench/README.md.
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

START = time.time()
BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["integration_reports", "writeback", "release_pipeline"]
# the end-to-end metrics a run reports in its result line (BENCHMARK.json)
RESULT_METRICS = ["setup_s", "pass_s", "op_p50_s", "live_heap_peak_mb"]
HEAP = "2g"
JVM_TIMEOUT_S = 165
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars() -> str:
    """The jars of the Spark distribution at $SPARK_HOME, else of the pyspark
    package's bundled distribution."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark distribution with a Scala compiler at '{jars}'; "
                         "set SPARK_HOME")
    return jars


def build(root: str) -> tuple:
    """Compile graft's main sources and the benchmark into .bench_build/perfbench.jar
    and record a class-data-sharing archive of one release_pipeline run, unless
    the sources are unchanged since the last build. The archive spares every
    later run most of the JVM's class loading and verification (about 7 s of
    set-up on a 4-core box). Returns (jar, archive)."""
    root = os.path.abspath(root)
    sources = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not sources:
        raise SystemExit("perfbench: no graft sources under src/main/scala; "
                         "run from the root of a graft checkout")
    sources += sorted(glob.glob(os.path.join(BENCH, "scala", "*.scala")))
    h = hashlib.sha256()
    for s in sources:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, ".bench_build")
    jar, archive = os.path.join(out, "perfbench.jar"), os.path.join(out, "perfbench.jsa")
    stamp = os.path.join(out, "build.sha256")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                return jar, archive
        os.remove(stamp)
    log(f"compiling {len(sources)} sources")
    os.makedirs(out, exist_ok=True)
    for f in (jar, archive):
        if os.path.exists(f):
            os.remove(f)
    jars = os.path.join(spark_jars(), "*")
    subprocess.run([java(), "-Xmx1g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
                    "-nowarn", "-d", jar, "-classpath", jars] + sources,
                   check=True, timeout=600, stdout=sys.stderr)
    log("recording the class-data-sharing archive")
    run_dir = os.path.join(out, "runs", "archive")
    shutil.rmtree(run_dir, ignore_errors=True)
    fixture = os.path.join(BENCH, "data", "sf0.001")
    inputs_dir = os.path.join(run_dir, "inputs")
    os.makedirs(inputs_dir)
    inputs.make("release_pipeline", 0, fixture, inputs_dir)
    args = argparse.Namespace(workload="release_pipeline", seed=0, seconds=0.1, trace=0)
    run_jvm(jar, f"-XX:ArchiveClassesAtExit={archive}", run_dir, args, fixture, inputs_dir,
            timeout=600)
    shutil.rmtree(run_dir)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return jar, archive


def run_jvm(jar: str, cds: str, run_dir: str, args, fixture: str, inputs_dir: str,
            timeout: float) -> dict:
    """Run the JVM half once; returns its run record."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = [java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", cds, f"-Djava.io.tmpdir={tmp}"]
    for p in JDK17_OPENS:
        cmd.append(f"--add-opens={p}=ALL-UNNAMED")
    cmd += ["-cp", jar + os.pathsep + os.path.join(spark_jars(), "*"),
            "graft.perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", run_dir, "--fixture", fixture, "--inputs", inputs_dir]
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: the JVM ran past {timeout:.0f}s; log in {jvm_log}")
    if code != 0:
        with open(jvm_log) as f:
            tail = [line for line in f if "WARN" not in line][-25:]
        sys.stderr.write("".join(tail))
        raise SystemExit(f"perfbench: the JVM exited with {code}; log in {jvm_log}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def fmt(v) -> str:
    return "n/a" if v is None else f"{v:.6g}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    fixture = os.path.join(BENCH, "data", "sf0.001")
    jar, archive = build(root)
    run_dir = os.path.join(root, ".bench_build", "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs_dir = os.path.join(run_dir, "inputs")
    os.makedirs(inputs_dir)
    inputs.make(args.workload, args.seed, fixture, inputs_dir)
    log(f"running {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    rec = run_jvm(jar, f"-XX:SharedArchiveFile={archive}", run_dir, args, fixture, inputs_dir,
                  timeout=JVM_TIMEOUT_S)
    verdicts = oracle.check(os.path.join(run_dir, "outputs.jsonl"), inputs_dir)
    e2e = metrics.end_to_end(rec, verdicts)
    bad = metrics.failed_ops(rec, verdicts)

    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"nproc={rec['nproc']} xmx_mb={rec['xmx_mb']} jvm_args={' '.join(rec['jvm_args'])} "
          f"loadavg_start={rec['loadavg_start']} loadavg_end={rec['loadavg_end']}")
    print(f"# setup_s={rec['setup_s']:.2f} passes_s="
          + ",".join(f"{p['wall_ns'] / 1e9:.2f}{'t' if p['traced'] else ''}" for p in rec["passes"]))
    for name, v in sorted(verdicts.items()):
        if isinstance(v, str) or name in bad:
            print(f"# check FAILED {name}: {v}")
    unchecked = metrics.unchecked_ops(verdicts)
    n_checked = sum(1 for v in verdicts.values() if v is None)
    print(f"# check: {n_checked} outputs match their reference, {len(bad)} failed"
          + (f", not checked: {', '.join(unchecked)}" if unchecked else ""))
    print(f"# samples: {e2e['_samples']} operations over "
          f"{sum(1 for p in rec['passes'] if not p['traced'])} untraced passes")
    for name, unit in metrics.END_TO_END:
        print(f"{name} {fmt(e2e[name])} {unit}")
    result_metrics = {}
    if args.trace:
        layers = metrics.per_layer(rec)
        for name, unit in metrics.PER_LAYER:
            print(f"{name} {fmt(layers[name])} {unit}")
            result_metrics[name] = {"value": layers[name], "unit": unit}
    else:
        units = dict(metrics.END_TO_END)
        result_metrics = {n: {"value": e2e[n], "unit": units[n]} for n in RESULT_METRICS}
    correct = e2e["_failed"] == 0 and all(m["value"] is not None for m in result_metrics.values())
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": e2e["_attempted"],
                      "failed": e2e["_failed"], "metrics": result_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
