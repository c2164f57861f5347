"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload crawl_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program and the driver from source
(see build.py), generates the workload's inputs from --seed under
.bench_build/work, runs the closed loop for --seconds of op time in one
Spark driver (local[4]), checks every op's output, and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer ones (spans land in .bench_build/traces).
Extra options for the self-tests: --scale tiny, --corrupt drop_top1|keep_dup.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("crawl_ingest", "index_churn")
LIMIT_S = 170  # the whole run, build excluded, must end before 180 s

# Spark on JDK 17 needs these outside spark-submit (the root build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", choices=("none", "drop_top1", "keep_dup"), default="none")
    a = ap.parse_args()

    cp = build.build()
    name = "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace, os.getpid())
    work = os.path.abspath(os.path.join(build.BUILD, "work", name))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(build.BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS]
           + ["-cp", os.pathsep.join(cp), "perfbench.Driver",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--scale", a.scale, "--corrupt", a.corrupt,
              "--work", work, "--out", out])
    log_path = os.path.join(logs, name + ".log")
    start = time.time()
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = p.wait(timeout=LIMIT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                sys.exit("run: driver passed %d s; killed (log: %s)" % (LIMIT_S, log_path))
        if code != 0 or not os.path.isfile(out):
            sys.stderr.write(open(log_path).read()[-4000:])
            sys.exit("run: driver exited %d without a result (log: %s)" % (code, log_path))
        with open(out) as f:
            res = json.load(f)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.isfile(spans):
            traces = os.path.join(build.BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copyfile(spans, os.path.join(traces, name + ".jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for f in res.get("failures", []):
        print("check failed: " + f)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "wall_s": round(time.time() - start, 3), "info": res["info"]}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
