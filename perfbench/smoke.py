#!/usr/bin/env python3
"""The benchmark's own smoke test, at GenData sf0.001.

    python3 perfbench/smoke.py

Runs the smoke-sf0.001 workload and checks that
  1. every metric of BENCHMARK.json is printed with its unit, untraced and
     traced;
  2. the span self times of each operation sum to its wall time within
     SELF_TIME_TOLERANCE_MS;
  3. the run record has the pinned schema;
  4. a corrupted golden entry is reported as a failed operation.
Exits 0 when all hold.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD = "smoke-sf0.001"
SMOKE_DIR = os.path.join(ROOT, ".bench_build", "smoke")
SELF_TIME_TOLERANCE_MS = 1.0

RECORD_KEYS = {"header", "correct", "attempted", "failed", "info", "end_to_end",
               "metrics", "self_time_s", "ops", "checks"}
HEADER_KEYS = {"git_rev", "src_digest", "cpus", "heap", "heap_max_mb", "spark_version",
               "java_version", "shuffle_codec", "consume", "session_confs", "workload",
               "seed", "ops", "data_dir", "data_digest", "run_seconds"}
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(golden, trace, seed=1, write=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", WORKLOAD,
           "--seed", str(seed), "--seconds", "15", "--trace", str(trace),
           "--golden", golden]
    if write:
        cmd.append("--write-golden")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"smoke: run.py failed:\n{p.stdout}\n{p.stderr}")
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    rec_path = os.path.join(ROOT, ".bench_build", "records", WORKLOAD,
                            f"seed{seed}-trace{trace}.json")
    with open(rec_path) as f:
        return p.stdout, result, json.load(f)


def check(cond, what, failures):
    print(f"{'ok  ' if cond else 'FAIL'} {what}")
    if not cond:
        failures.append(what)


def main():
    os.makedirs(SMOKE_DIR, exist_ok=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    golden = os.path.join(SMOKE_DIR, "golden.json")
    with open(golden, "w") as f:
        f.write("{}")
    failures = []

    run(golden, 0, write=True)
    out0, res0, rec0 = run(golden, 0)
    out1, res1, rec1 = run(golden, 1)

    check(set(res0) == RESULT_KEYS and res0["correct"] and res0["failed"] == 0,
          "untraced run is correct against the golden it just wrote", failures)
    for spec_key, out, res in (("end_to_end", out0, res0), ("per_layer", out1, res1)):
        want = {m["name"]: m["unit"] for m in bench[spec_key]}
        got = {n: m["unit"] for n, m in res["metrics"].items()}
        check(got == want, f"{spec_key}: result line has every metric with its unit", failures)
        printed = all(any(l.split()[:1] == [n] and l.split()[-1] == u
                          for l in out.splitlines()) for n, u in want.items())
        check(printed, f"{spec_key}: every metric printed by name with its unit", failures)

    for trace, rec in enumerate((rec0, rec1)):
        check(set(rec) == RECORD_KEYS and set(rec["header"]) == HEADER_KEYS,
              f"record schema (trace {trace})", failures)

    trace_file = os.path.join(ROOT, ".bench_build", "trace", f"{WORKLOAD}-seed1.json")
    with open(trace_file) as f:
        spans = json.load(f)["spans"]
    walls = {o["id"]: o["wall_s"] * 1000.0 for o in rec1["ops"] if o["ok"]}
    sums = {}
    for s in spans:
        sums[s["op"]] = sums.get(s["op"], 0.0) + s["self_ms"]
    worst = max(abs(sums.get(i, 0.0) - w) for i, w in walls.items())
    check(walls and worst <= SELF_TIME_TOLERANCE_MS,
          f"span self times sum to op wall time (worst {worst:.4f} ms, "
          f"tolerance {SELF_TIME_TOLERANCE_MS} ms)", failures)
    check(any(s["name"] == "stage" for s in spans) and any(s["name"] == "job" for s in spans),
          "trace holds job and stage spans", failures)

    with open(golden) as f:
        g = json.load(f)
    victim = sorted(g[WORKLOAD])[0]
    g[WORKLOAD][victim][0] += 1
    with open(golden, "w") as f:
        json.dump(g, f)
    _, res2, rec2 = run(golden, 0)
    check(not res2["correct"] and res2["failed"] == 1 and rec2["info"]["wrong"] == [victim],
          f"corrupted golden entry for {victim} reported as one failed operation", failures)

    print("smoke: " + ("PASS" if not failures else f"FAIL ({len(failures)})"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
