"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload layout_write|dedup \
        --seed N --seconds S --trace 0|1

Builds the library and the benchmark from source (perfbench/build.py),
runs perfbench.Main in one JVM with a local[nproc] Spark session, and
prints {"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. Units come from BENCHMARK.json. With --trace 1 the spans are
kept in .bench_build/traces/. Everything the run writes stays under
.bench_build in the checkout.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = build.ROOT
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (Spark's
# JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", default=0, type=int, choices=[0, 1])
    a = p.parse_args()

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(f"build: {e}", 2)

    work = build.BUILD / "work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    spans = build.BUILD / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", str(work), "--spans", str(spans)])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run did not finish in {RUN_TIMEOUT_S} s", 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        fail(f"run failed with exit code {proc.returncode}", 1)

    declared = bench["per_layer" if a.trace else "end_to_end"]
    got = result["metrics"]
    names = {m["name"] for m in declared}
    if set(got) != names:
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(names - set(got))}, "
             f"undeclared {sorted(set(got) - names)}", 1)
    bad = [k for k, v in got.items() if not math.isfinite(v)]
    if bad:
        fail(f"non-finite metrics {bad}", 1)
    print(json.dumps({
        "correct": result["correct"] and result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in declared},
    }))


if __name__ == "__main__":
    main()
