"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness into
.bench_build (see build.py), runs one workload in a JVM, relays its report
lines, and prints the result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Exits non-zero, without a result
line, when the build, the run or the result's shape fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(BENCH))
import build  # noqa: E402

WORKLOADS = ("lightcurve_batch", "notebook_interactive", "curate_ingest")
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880

# Module opens Spark needs on JDK 17 outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def expected_metrics(trace: bool) -> set:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def forward(stream) -> None:
    """Relays the JVM's report lines as they come."""
    for line in stream:
        if line.startswith("[perfbench]"):
            sys.stdout.write(line)
            sys.stdout.flush()


def main() -> int:
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    trace = args.trace == "1"
    expected = expected_metrics(trace)

    started = time.monotonic()
    build_dir = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not build_dir.is_absolute():
        build_dir = ROOT / build_dir
    classes = build.build(build_dir)
    built_s = time.monotonic() - started
    limit = (FIRST_RUN_LIMIT_S if built_s > 5 else RUN_LIMIT_S) - built_s

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = build_dir / "work" / tag
    result = build_dir / "work" / f"{tag}.json"
    logs = build_dir / "logs"
    trace_out = build_dir / "traces" / f"{tag}.json"
    for d in (work, logs, build_dir / "tmp"):
        d.mkdir(parents=True, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    jars = build.spark_jars()
    # fixed, pre-touched heap and the parallel collector, as build.sbt
    # sets for the project's own runs
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
            "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={build_dir / 'tmp'}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--nproc", str(nproc), "--work", str(work),
              "--result", str(result), "--trace-out", str(trace_out)])
    log_path = logs / f"{tag}.log"
    try:
        with open(log_path, "w") as log:
            # keep Spark's scratch space inside the checkout
            env = {k: v for k, v in os.environ.items()
                   if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                    stderr=log, text=True, env=env)
            relay = threading.Thread(target=forward, args=(proc.stdout,))
            relay.start()
            try:
                code = proc.wait(timeout=limit)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
                relay.join()
        if code != 0:
            sys.stderr.write(f"perfbench: run failed (exit {code}); "
                             f"log {log_path}\n")
            sys.stderr.write(log_path.read_text()[-4000:])
            return 1
        line = result.read_text().strip()
        got = json.loads(line)
        if set(got["metrics"]) != expected:
            sys.stderr.write("perfbench: metrics differ from BENCHMARK.json: "
                             f"{sorted(set(got['metrics']) ^ expected)}\n")
            return 1
        print(line)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if result.exists():
            result.unlink()


if __name__ == "__main__":
    sys.exit(main())
