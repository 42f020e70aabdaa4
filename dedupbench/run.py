"""Layered benchmark of the near-duplicate engine.

    python3 dedupbench/run.py --workload crawl_batch --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (see build.py),
runs one workload in a single JVM on local[nproc], and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Units come from BENCHMARK.json; a metric set
that does not match it is an error. Exits non-zero without a result when the
checkout cannot be built or the run fails.
"""

import argparse
import json
import os
import subprocess
import sys
import threading
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("crawl_batch", "crawl_incremental", "chkpt_chain")
TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "toy"), default="full",
                   help="toy: tiny inputs, for the smoke test")
    return p.parse_args(argv)


def declared_units(trace: int) -> dict:
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def run_jvm(classpath, args) -> tuple:
    """Run the benchmark JVM; return (stdout text, exit code, peak RSS in MB)."""
    scratch = build.BUILD_DIR / "scratch"
    tmp = build.BUILD_DIR / "tmp"
    for d in (scratch, tmp):
        d.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=str(scratch),
               SPARK_LOCAL_DIRS=str(scratch / "spark_local"))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # a fixed, pre-touched heap: peak RSS then moves with off-heap and
    # native growth instead of with when the collector chose to grow the heap
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-Xss16m",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={build.BUILD_DIR / 'warehouse'}",
            "-Dlog4j2.configurationFile=" + str(build.HERE / "log4j2.properties")]
           + opens
           + ["-cp", os.pathsep.join(str(c) for c in classpath),
              "dedupbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--size", args.size,
              "--spans", str(build.BUILD_DIR / "spans")])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env,
                            cwd=str(build.ROOT), text=True)
    timer = threading.Timer(TIMEOUT_S, proc.kill)
    timer.start()
    try:
        out = proc.stdout.read()
        # wait4, not Popen.wait: it also returns the child's resource usage
        _, status, usage = os.wait4(proc.pid, 0)
    finally:
        timer.cancel()
    proc.returncode = os.waitstatus_to_exitcode(status)
    return out, proc.returncode, usage.ru_maxrss / 1024.0


def main(argv) -> int:
    args = parse_args(argv)
    classpath = build.build()
    units = declared_units(args.trace)
    out, code, peak_rss_mb = run_jvm(classpath, args)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        print(f"dedupbench: benchmark JVM exited with {code}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    values = result["metrics"]
    if not args.trace:
        values["peak_rss_mb"] = peak_rss_mb
    if set(values) != set(units):
        print("dedupbench: metric set differs from BENCHMARK.json: missing "
              f"{sorted(set(units) - set(values))}, unexpected "
              f"{sorted(set(values) - set(units))}", file=sys.stderr)
        return 1
    result["metrics"] = {k: {"value": values[k], "unit": units[k]}
                         for k in units}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
