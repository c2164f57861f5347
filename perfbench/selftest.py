"""Self-tests of the benchmark itself. Run from the repository root:

    python3 perfbench/selftest.py

1. A tiny-size run of each workload completes with every check green and
   reports every end-to-end metric of BENCHMARK.json.
2. A tiny traced run of each workload reports every per-layer metric.
3. A deliberately corrupted result is rejected: index_churn with the top hit
   of one query dropped, crawl_ingest with one planted near-duplicate kept.
4. In a directory holding only BENCHMARK.json and the benchmark's files, the
   runner exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
E2E = {m["name"] for m in SPEC["end_to_end"]}
LAYER = {m["name"] for m in SPEC["per_layer"]}
failures = []


def run(args, cwd=ROOT):
    p = subprocess.run(["python3", "perfbench/run.py"] + args, cwd=cwd,
                       capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except ValueError:
        last = None
    return p.returncode, last, p.stdout + p.stderr


def expect(cond, what, detail=""):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)
        if detail:
            print(detail[-3000:])


for w in (x["name"] for x in SPEC["workloads"]):
    code, res, out = run(["--workload", w, "--seed", "7", "--seconds", "4", "--trace", "0", "--scale", "tiny"])
    ok = code == 0 and res and res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    expect(ok, "%s: tiny run passes its checks" % w, out)
    if ok:
        got = set(res["metrics"])
        expect(got == E2E and all(v["value"] > 0 for v in res["metrics"].values()),
               "%s: tiny run reports every end-to-end metric, none zero" % w, json.dumps(res))

    code, res, out = run(["--workload", w, "--seed", "7", "--seconds", "8", "--trace", "1", "--scale", "tiny"])
    ok = code == 0 and res and res["correct"]
    expect(ok, "%s: tiny traced run passes its checks" % w, out)
    if ok:
        expect(set(res["metrics"]) == LAYER, "%s: traced run reports every per-layer metric" % w, json.dumps(res))
        expect(res["metrics"]["spark.jobs_per_op"]["value"] > 0, "%s: traced run counted Spark jobs" % w)

for w, corrupt in (("index_churn", "drop_top1"), ("crawl_ingest", "keep_dup")):
    code, res, out = run(["--workload", w, "--seed", "7", "--seconds", "4", "--trace", "0",
                          "--scale", "tiny", "--corrupt", corrupt])
    expect(code == 0 and res and not res["correct"] and res["failed"] > 0,
           "%s: a corrupted result (%s) is rejected" % (w, corrupt), out)

bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
shutil.rmtree(bare, ignore_errors=True)
os.makedirs(bare)
shutil.copyfile(os.path.join(ROOT, "BENCHMARK.json"), os.path.join(bare, "BENCHMARK.json"))
for p in SPEC["paths"]:
    shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                    ignore=shutil.ignore_patterns("__pycache__"))
code, res, out = run(["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                      "--seconds", "1", "--trace", "0"], cwd=bare)
expect(code != 0 and res is None, "without the program's sources the runner fails without a result", out)
shutil.rmtree(bare, ignore_errors=True)

print("%d failure(s)" % len(failures))
sys.exit(1 if failures else 0)
