#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload analytics-sf0.1 --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source on first use, generates the
workload's data with graft.tools.GenData, runs the harness in a fresh JVM,
checks every result against perfbench/golden.json and prints one metric per
line followed by a JSON result line. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
CPUS = min(os.cpu_count() or 1, 4)
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 880
MB = 1 << 20

# JDK 17 needs these when a SparkSession is created outside spark-submit.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

END_TO_END = [
    ("wall_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"), ("cpu_s", "s"),
    ("setup_s", "s"), ("heap_peak_mb", "MB"),
]
PER_LAYER = [
    ("ops.build_s", "s"), ("ops.build_jobs", "count"), ("ops.build_job_s", "s"),
    ("ops.ckpt_rdds", "count"), ("ops.ckpt_mb", "MB"),
    ("plan.executions", "count"), ("plan.analysis_s", "s"),
    ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.failed_tasks", "count"), ("sched.driver_gap_s", "s"),
    ("sched.task_deser_s", "s"), ("sched.empty_task_share", "ratio"),
    ("sched.core_busy_share", "ratio"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.task_gc_s", "s"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
    ("exec.shuffle_wait_s", "s"), ("exec.spill_disk_mb", "MB"),
    ("exec.peak_mem_mb", "MB"),
    ("tables.input_mb", "MB"), ("tables.input_rows", "rows"),
    ("tables.rows_per_result", "ratio"),
    ("fixtures.stage_s", "s"), ("fixtures.write_mb", "MB"), ("fixtures.write_amp", "ratio"),
    ("sink.write_mb", "MB"), ("sink.files", "count"),
    ("jvm.gc_s", "s"),
    ("bench.cleanup_s", "s"), ("bench.trace_overhead_share", "ratio"),
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def tree_digest(paths, skip_dirs=("target", ".bsp")):
    """sha256 over the relative names and bytes of every file under paths."""
    h = hashlib.sha256()
    for top in paths:
        full = os.path.join(ROOT, top)
        if os.path.isfile(full):
            entries = [full]
        else:
            entries = []
            for d, dirs, files in os.walk(full):
                dirs[:] = sorted(x for x in dirs if x not in skip_dirs)
                entries += [os.path.join(d, f) for f in sorted(files)]
        for p in entries:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compiles the program and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: no graft sources (build.sbt, src/main/scala) "
                         "next to perfbench/; run it from a full checkout")
    stamp = tree_digest(["build.sbt", "project/build.properties", "src/main",
                         "perfbench/harness/build.sbt", "perfbench/harness/src"])
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp, False
    os.makedirs(BUILD, exist_ok=True)
    log("building the program and the harness (sbt, offline)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Dsbt.override.build.repos=true").strip()
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=logf,
            stdin=subprocess.DEVNULL, text=True, timeout=600)
        logf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        raise SystemExit(f"perfbench: build failed, see {BUILD}/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp, True


def java_cmd(cp, heap, tmpdir, main, *args):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + [
        f"-Xmx{heap}", f"-Xms{heap}", f"-Djava.io.tmpdir={tmpdir}", "-Duser.timezone=UTC",
        f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, main, *args]


def data_digest(cp, d):
    """sha256 of DataDigest's per-table rows and result hashes."""
    p = subprocess.run(java_cmd(cp, "1g", os.path.join(BUILD, "tmp-gendata"),
                                "perfbench.DataDigest", d),
                       cwd=BUILD, capture_output=True, text=True, timeout=300)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: digest of {d} failed:\n{p.stderr[-2000:]}")
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def prepare_data(cp, sf):
    """Generates GenData at scale sf once per checkout; returns (dir, digest)."""
    d = os.path.join(BUILD, "data", f"sf{sf}")
    done = os.path.join(d, "_PERFBENCH_DIGEST")
    if os.path.exists(done):
        with open(done) as f:
            return d, f.read().strip(), False
    log(f"generating GenData sf{sf}")
    shutil.rmtree(d, ignore_errors=True)
    tmp = os.path.join(BUILD, "tmp-gendata")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS))
    with open(os.path.join(BUILD, f"gendata-sf{sf}.log"), "w") as logf:
        p = subprocess.run(java_cmd(cp, "2g", tmp, "graft.tools.GenData", sf, d),
                           cwd=BUILD, env=env, stdout=logf, stderr=logf,
                           stdin=subprocess.DEVNULL, timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"perfbench: GenData sf{sf} failed, see {BUILD}/gendata-sf{sf}.log")
    digest = data_digest(cp, d)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(done, "w") as f:
        f.write(digest)
    return d, digest, True


def parquet_bytes(d):
    total = 0
    for dirpath, _, files in os.walk(d):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files if f.startswith("part-"))
    return total


def plan_ops(wl, seed):
    """The seed only permutes operation order within each phase."""
    rng = random.Random(seed)
    ops = []
    for phase in wl["phases"]:
        names = list(phase["ops"])
        rng.shuffle(names)
        ops += [(phase["name"], phase["kind"], n) for n in names]
    return ops


def git_rev():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_harness(cp, wl_name, wl, data_dir, seed, trace, deadline):
    run_dir = os.path.join(BUILD, "run", f"{wl_name}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # Pre-staged workloads keep their fixtures across runs. The load
    # workload stages into an empty directory on every run, because
    # ExtractFixtures skips a directory that already holds its marker.
    tmpdir = (os.path.join(BUILD, "stage", wl_name) if wl["prestage"]
              else os.path.join(run_dir, "tmp"))
    os.makedirs(tmpdir, exist_ok=True)
    ops = plan_ops(wl, seed)
    record_path = os.path.join(run_dir, "record.json")
    lines = [
        f"data {data_dir}", f"cpus {CPUS}", f"trace {trace}", "setups 3",
        f"prestage {1 if wl['prestage'] else 0}", f"record {record_path}",
        f"run_dir {run_dir}", f"sink {wl['sink']}",
    ]
    lines += [f"op {i} {ph} {kind} {name}" for i, (ph, kind, name) in enumerate(ops)]
    plan_path = os.path.join(run_dir, "plan.txt")
    launch_ms = int(time.time() * 1000)
    with open(plan_path, "w") as f:
        f.write("\n".join(lines + [f"launch_ms {launch_ms}"]) + "\n")
    log_path = os.path.join(BUILD, "logs", f"{wl_name}-seed{seed}-trace{trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(java_cmd(cp, wl["heap"], tmpdir, "perfbench.Harness", plan_path),
                                cwd=BUILD, stdout=logf, stderr=logf, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: harness exceeded its time limit, see {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            if proc.returncode != 0:
                shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not os.path.exists(record_path):
        raise SystemExit(f"perfbench: harness exited with {rc}, see {log_path}")
    with open(record_path) as f:
        raw = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    return raw, ops


def union_ms(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def op_spans(op, jobs, stages):
    """Spans of one operation: op -> ops.build | exec | fixtures -> job -> stage.
    Each child is clipped to its parent's interval."""
    def clip(s, e, parent):
        s, e = max(s, parent["start"]), min(e, parent["end"])
        return s, max(s, e)

    root = {"name": "op", "start": op["start_ms"], "end": op["end_ms"], "parent": None}
    spans = [root]
    phases = {}
    if op["kind"] == "stage":
        phases["fixtures"] = {"name": "fixtures", "start": root["start"], "end": root["end"]}
    else:
        mid = root["start"] + op["build_s"] * 1000.0
        phases["build"] = {"name": "ops.build", "start": root["start"], "end": mid}
        phases["exec"] = {"name": "exec", "start": mid, "end": root["end"]}
    for p in phases.values():
        p["parent"] = 0
        spans.append(p)
    job_idx = {}
    for j in jobs:
        parent_i = next((i for i, s in enumerate(spans) if s is phases.get(j["phase"])), 0)
        s, e = clip(j["start_ms"], j["end_ms"], spans[parent_i])
        job_idx.update({sid: len(spans) for sid in j["stage_ids"]})
        spans.append({"name": "job", "start": s, "end": e, "parent": parent_i,
                      "job": j["job"]})
    for st in stages:
        parent_i = job_idx.get(st["stage"], 0)
        s, e = clip(st["submit_ms"], st["complete_ms"] or st["submit_ms"], spans[parent_i])
        spans.append({"name": "stage", "start": s, "end": e, "parent": parent_i,
                      "stage": st["stage"]})
    return spans


def self_times(spans):
    """Sweep line: at each instant the innermost running spans share it
    equally, so the self times of one op's spans sum to its wall time."""
    for s in spans:
        s["self_ms"] = 0.0
    cuts = sorted({t for s in spans for t in (s["start"], s["end"])})
    for a, b in zip(cuts, cuts[1:]):
        live = [i for i, s in enumerate(spans) if s["start"] <= a and s["end"] >= b]
        parents = {spans[i]["parent"] for i in live}
        inner = [i for i in live if i not in parents]
        for i in inner:
            spans[i]["self_ms"] += (b - a) / len(inner)
    return spans


def percentile_tail(values):
    """Latency at ascending rank n-10 of n: the highest percentile with ten
    samples beyond it. With ten or fewer samples, the largest."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0, 0.0
    if n <= 10:
        return v[-1], 100.0
    return v[n - 11], 100.0 * (n - 10) / n


def derive(raw, golden, data_dir):
    recs = raw["ops"]
    wrong = sorted({c["name"] for c in raw["checks"]
                    if c.get("error") or [c.get("rows"), c.get("sumhash")] != golden.get(c["name"])})
    ok = [r for r in recs if r["ok"] and r["name"] not in wrong]
    failed = len(recs) - len(ok)
    lat = [r["wall_s"] for r in ok]
    tail, tail_pct = percentile_tail(lat)

    old_after = [s["bytes"] for s in raw["old_gen_after_gc"]]
    e2e = {
        "wall_s": sum(lat),
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "op_tail_s": tail,
        "cpu_s": sum(r["cpu_s"] for r in ok),
        "setup_s": statistics.median(raw["setup_s"]),
        "heap_peak_mb": max(old_after, default=0) / MB,
    }
    info = {
        "attempted": len(recs), "failed": failed, "wrong": wrong,
        "failed_ops": sorted({r["name"] for r in recs if not r["ok"]}),
        "failed_share": failed / len(recs),
        "tail_percentile": tail_pct, "n_ok": len(ok),
        "setup_samples_s": raw["setup_s"], "context_dead": raw["context_dead"],
        "first_setup_parts_s": raw["setup_parts_s"], "check_s": raw["check_s"],
    }
    layers, self_summary = None, None
    if raw.get("trace"):
        layers, self_summary = derive_layers(raw, ok, data_dir)
    return e2e, info, layers, self_summary


def derive_layers(raw, ok, data_dir):
    tr = raw["trace"]
    ok_ids = {r["id"] for r in ok}
    ok_names = {r["name"] for r in ok}
    jobs = [j for j in tr["jobs"] if j["op"] in ok_ids]
    stages = [s for s in tr["stages"] if s["op"] in ok_ids]
    plans = [p for p in tr["plans"] if p["op"] in ok_ids]
    wall = sum(r["wall_s"] for r in ok)
    build_jobs = [j for j in jobs if j["phase"] == "build"]
    tasks = sum(s["tasks"] for s in stages)
    rows_out = sum(c.get("rows", 0) for c in raw["checks"] if c["name"] in ok_names)
    input_rows = sum(s["input_records"] for s in stages)
    stage_ops = [r for r in ok if r["kind"] == "stage"]
    stage_bytes = sum(r["stage_write_bytes"] for r in stage_ops)
    src_bytes = parquet_bytes(data_dir)
    gap = 0.0
    self_summary = {}
    for r in ok:
        ojobs = [j for j in jobs if j["op"] == r["id"]]
        ostages = [s for s in stages if s["op"] == r["id"]]
        covered = union_ms([(max(s["submit_ms"], r["start_ms"]),
                             min(s["complete_ms"] or s["submit_ms"], r["end_ms"]))
                            for s in ostages if s["submit_ms"] < r["end_ms"]])
        gap += max(0.0, r["wall_s"] * 1000.0 - covered) / 1000.0
        for s in self_times(op_spans(r, ojobs, ostages)):
            self_summary[s["name"]] = self_summary.get(s["name"], 0.0) + s["self_ms"] / 1000.0

    def total(items, key, scale=1.0):
        return sum(x[key] for x in items) / scale

    layers = {
        "ops.build_s": total(ok, "build_s"),
        "ops.build_jobs": len(build_jobs),
        "ops.build_job_s": sum(j["end_ms"] - j["start_ms"] for j in build_jobs) / 1000.0,
        "ops.ckpt_rdds": total(ok, "ckpt_rdds"),
        "ops.ckpt_mb": total(ok, "ckpt_bytes", MB),
        "plan.executions": len(plans),
        "plan.analysis_s": total(plans, "analysis_ms", 1000.0),
        "plan.optimization_s": total(plans, "optimization_ms", 1000.0),
        "plan.planning_s": total(plans, "planning_ms", 1000.0),
        "sched.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.tasks": tasks,
        "sched.failed_tasks": total(stages, "failed_tasks"),
        "sched.driver_gap_s": gap,
        "sched.task_deser_s": total(stages, "deser_ms", 1000.0),
        "sched.empty_task_share": sum(s["empty_tasks"] for s in stages) / tasks if tasks else 0.0,
        "sched.core_busy_share":
            sum(s["run_ms"] for s in stages) / 1000.0 / (wall * CPUS) if wall else 0.0,
        "exec.task_run_s": total(stages, "run_ms", 1000.0),
        "exec.task_cpu_s": total(stages, "cpu_ns", 1e9),
        "exec.task_gc_s": total(stages, "gc_ms", 1000.0),
        "exec.shuffle_write_mb": total(stages, "shuffle_write_bytes", MB),
        "exec.shuffle_read_mb": total(stages, "shuffle_read_bytes", MB),
        "exec.shuffle_wait_s": total(stages, "fetch_wait_ms", 1000.0),
        "exec.spill_disk_mb": total(stages, "spill_disk_bytes", MB),
        "exec.peak_mem_mb": max((s["peak_mem_bytes"] for s in stages), default=0) / MB,
        "tables.input_mb": total(stages, "input_bytes", MB),
        "tables.input_rows": input_rows,
        "tables.rows_per_result": input_rows / rows_out if rows_out else 0.0,
        "fixtures.stage_s": total(stage_ops, "wall_s"),
        "fixtures.write_mb": stage_bytes / MB,
        "fixtures.write_amp": stage_bytes / src_bytes if src_bytes else 0.0,
        "sink.write_mb": total([s for s in stages if s["phase"] == "exec"], "output_bytes", MB),
        "sink.files": total(ok, "sink_files"),
        "jvm.gc_s": total(ok, "gc_s"),
        "bench.cleanup_s": total(ok, "cleanup_s"),
    }
    return layers, self_summary


def records_dir(wl_name):
    d = os.path.join(BUILD, "records", wl_name)
    os.makedirs(d, exist_ok=True)
    return d


def untraced_wall(wl_name, header):
    """Median wall_s of this checkout's untraced records of the workload
    made with the same instrument and sources; None when there are none."""
    walls = []
    d = records_dir(wl_name)
    for f in sorted(os.listdir(d)):
        if f.endswith("-trace0.json"):
            with open(os.path.join(d, f)) as g:
                rec = json.load(g)
            same = (instrument(rec["header"]) == instrument(header)
                    and rec["header"]["src_digest"] == header["src_digest"])
            if same and rec["failed"] == 0:
                walls.append(rec["metrics"]["wall_s"]["value"])
    return statistics.median(walls) if walls else None


def run(args, quiet=False):
    started = time.time()
    workloads = load_workloads()
    if args.workload not in workloads:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                         f"known: {', '.join(workloads)}")
    wl = workloads[args.workload]
    cp, src_digest, built = build()
    data_dir, digest, generated = prepare_data(cp, wl["sf"])
    first = built or generated or (
        wl["prestage"] and not os.path.isdir(os.path.join(BUILD, "stage", args.workload)))
    deadline = started + (FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S)
    golden_path = args.golden or os.path.join(HERE, "golden.json")
    with open(golden_path) as f:
        golden = json.load(f).get(args.workload, {})

    raw, ops = run_harness(cp, args.workload, wl, data_dir, args.seed, args.trace, deadline)
    e2e, info, layers, self_summary = derive(raw, golden, data_dir)
    header = {
        "git_rev": git_rev(), "src_digest": src_digest, "cpus": CPUS,
        "heap": wl["heap"], "heap_max_mb": raw["header"]["heap_max_mb"],
        "spark_version": raw["header"]["spark_version"],
        "java_version": raw["header"]["java_version"],
        "shuffle_codec": raw["header"]["shuffle_codec"],
        "consume": wl["sink"], "session_confs": raw["header"]["session_confs"],
        "workload": args.workload, "seed": args.seed, "ops": len(ops),
        "data_dir": os.path.relpath(data_dir, ROOT), "data_digest": digest,
        "run_seconds": args.seconds,
    }
    if layers is not None:
        base = untraced_wall(args.workload, header)
        if base is None:
            log("no untraced record of this workload yet: making one for the overhead")
            base_args = argparse.Namespace(**dict(vars(args), trace=0))
            base = run(base_args, quiet=True)["metrics"]["wall_s"]["value"]
        layers["bench.trace_overhead_share"] = e2e["wall_s"] / base - 1.0 if base else 0.0

    metrics_spec = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else e2e
    metrics = {n: {"value": values[n], "unit": u} for n, u in metrics_spec}
    record = {
        "header": header,
        "correct": info["failed"] == 0,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "info": info,
        "end_to_end": {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END},
        "metrics": metrics,
        "self_time_s": self_summary,
        "ops": [{k: r.get(k) for k in ("id", "phase", "kind", "name", "ok", "wall_s",
                                       "build_s", "cpu_s", "error")} for r in raw["ops"]],
        "checks": raw["checks"],
    }
    out = os.path.join(records_dir(args.workload),
                       f"seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    if raw.get("trace"):
        write_trace(args, raw)
    if args.write_golden:
        update_golden(golden_path, args.workload, raw["checks"])
    if not quiet:
        report(record, out)
    return record


def instrument(header):
    """The header fields two comparable records share: all but the revision
    (git rev and source digest) and the seed."""
    return {k: v for k, v in header.items() if k not in ("git_rev", "src_digest", "seed")}


def write_trace(args, raw):
    """All spans of the run, in one file, with their self times."""
    tr = raw["trace"]
    spans = []
    for r in raw["ops"]:
        if not r["ok"]:
            continue
        ojobs = [j for j in tr["jobs"] if j["op"] == r["id"]]
        ostages = [s for s in tr["stages"] if s["op"] == r["id"]]
        for s in self_times(op_spans(r, ojobs, ostages)):
            spans.append(dict(s, op=r["id"], op_name=r["name"]))
    d = os.path.join(BUILD, "trace")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump({"spans": spans, "plans": tr["plans"]}, f)


def update_golden(path, wl_name, checks):
    with open(path) as f:
        golden = json.load(f)
    golden[wl_name] = {c["name"]: [c.get("rows"), c.get("sumhash")] for c in checks
                       if "error" not in c}
    with open(path, "w") as f:
        f.write("{\n" + ",\n".join(
            f"  {json.dumps(w)}: {{\n" + ",\n".join(
                f"    {json.dumps(n)}: {json.dumps(v)}" for n, v in sorted(golden[w].items()))
            + "\n  }" for w in sorted(golden)) + "\n}\n")


def report(record, out):
    h = record["header"]
    info = record["info"]
    print(f"workload {h['workload']}  seed {h['seed']}  ops {h['ops']}  "
          f"consume {h['consume']}  cpus {h['cpus']}  heap {h['heap']}  "
          f"spark {h['spark_version']}  java {h['java_version']}  "
          f"codec {h['shuffle_codec']}  rev {h['git_rev'][:12]}  data {h['data_digest']}")
    for name, m in record["end_to_end"].items():
        print(f"{name:<32} {m['value']:>14.4f} {m['unit']}")
    print(f"{'failed_share':<32} {info['failed_share']:>14.4f} ratio")
    print(f"op_tail_s is p{info['tail_percentile']:.1f} of n={info['n_ok']}; "
          f"setup samples {', '.join(f'{x:.3f}' for x in info['setup_samples_s'])} s")
    if record["self_time_s"] is not None:
        for name, m in record["metrics"].items():
            print(f"{name:<32} {m['value']:>14.4f} {m['unit']}")
        print("self time by span: " + ", ".join(
            f"{k} {v:.3f} s" for k, v in sorted(record["self_time_s"].items())))
    if info["failed"]:
        print(f"FAILED: {info['failed_ops']}  WRONG RESULT: {info['wrong']}")
    print(f"record: {os.path.relpath(out, ROOT)}")
    print(json.dumps({"correct": record["correct"], "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": record["metrics"]}))


def main(argv=None):
    # A terminated run still stops its JVM (run_harness's finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20,
                    help="run length the workload is sized for; recorded in the header")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--golden", help="golden file (default perfbench/golden.json)")
    ap.add_argument("--write-golden", action="store_true",
                    help="store this run's result hashes as the workload's golden entries")
    run(ap.parse_args(argv))


if __name__ == "__main__":
    main()
