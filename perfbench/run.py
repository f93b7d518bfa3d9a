#!/usr/bin/env python3
"""Benchmark of the near-dup pipeline. Run from the repository root:

  python3 perfbench/run.py --workload <web-crawl|dup-dense|stream> \
      --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark (perfbench/build.py), runs one JVM for
the workload and prints, as the last line of stdout, one JSON object with
the keys correct, attempted, failed and metrics. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones. Every
file it writes stays under .bench_build/ in the repository root.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Spark on JDK 17 outside spark-submit needs these opens; the same list as
# the repository's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 175


def heap_gb():
    """A quarter of MemTotal, between 1 and 4 GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1, min(4, kb // (4 * 1024 * 1024)))


def expected_metrics(trace):
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    expected = expected_metrics(a.trace)
    classes = build.build()
    work = os.path.join(build.OUT, "work", a.workload)
    tmp = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # No SPARK_GRAFT_* knob of the caller's shell may reach the program:
    # the benchmark measures the program's defaults.
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # -Xms1g: with the default initial heap the first timed runs were still
    # growing the heap. -XX:-UsePerfData and the tmp settings keep every file
    # the JVM, Spark and Hadoop write inside the checkout.
    cmd = (["java", "-Xms1g", "-Xmx%dg" % heap_gb(), "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
            "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(tmp, "hadoop"),
            "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH_DIR, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + build.classpath(), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work])
    limit = max(30, RUN_LIMIT_S - (time.time() - t_start))
    proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("benchmark JVM exceeded %.0f s" % limit, file=sys.stderr)
        return 4
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = out.splitlines()
    results = [l[len("RESULT "):] for l in lines if l.startswith("RESULT ")]
    if proc.returncode != 0 or len(results) != 1:
        print("benchmark JVM failed (code %d)" % proc.returncode, file=sys.stderr)
        return 3
    result = json.loads(results[0])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != expected:
        print("metric set differs from BENCHMARK.json: missing %s, extra %s, units %s" % (
            sorted(set(expected) - set(got)), sorted(set(got) - set(expected)),
            sorted(k for k in got if k in expected and got[k] != expected[k])), file=sys.stderr)
        return 3
    for l in lines:
        if not l.startswith("RESULT "):
            print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except build.BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
