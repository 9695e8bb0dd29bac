#!/usr/bin/env python3
"""The repository benchmark: one command, two seeded workloads.

Usage (from the repository root):
  python3 perfbench/run.py --workload taxi|registry_mix|all \
      --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py, cached per seed and
never timed), runs the harness JVM on local[<cores>] with a fixed,
pre-touched heap, checks the outputs against DuckDB (perfbench/oracle.py),
prints the workload's named metrics one per line and, last, one JSON
object: {"correct", "attempted", "failed", "metrics"}. `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer metrics of a traced run.
Everything it writes stays under perfbench/.work/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("taxi", "registry_mix")
# operation kind -> corpus it reads and the directory its output lands in
TAXI_OPS = {"rebuild_bulk": ("taxi_bulk", "rebuild_taxi_bulk"),
            "rebuild_drift": ("taxi_drift", "rebuild_taxi_drift"),
            "refresh": ("taxi_bulk", "refresh")}
HEAP = "2g"
# cold set-ups per run, each its own JVM: SETUP_RUNS - 1 set-up-only
# processes, then the one that goes on to the loop
SETUP_RUNS = 2
# minimum timed passes per run (the loop also runs at least --seconds)
MIN_PASSES = {"taxi": 3, "registry_mix": 1}
TIMEOUT_S = 165
MB = 1048576.0

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores():
    return len(os.sched_getaffinity(0))


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def run_harness(workload, seed, seconds, trace, data, run_dir, classpath, deadline,
                setup_only=False):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log_path = os.path.join(run_dir, "jvm.log")
    result = os.path.join(run_dir, "result.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = (["java"] + JAVA_OPENS + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", classpath,
        "org.apache.spark.perfbench.PerfBench",
        f"workload={workload}", f"data={data}", f"work={run_dir}", f"seconds={seconds}",
        f"passes={MIN_PASSES[workload]}", f"trace={trace}", f"cpus={cores()}",
        f"seed={seed}", f"setup_only={int(setup_only)}"])
    with open(log_path, "w") as log:
        launch_ms = int(time.time() * 1000)
        p = subprocess.Popen(cmd + [f"launch_ms={launch_ms}"], stdout=log, stderr=log,
                             cwd=run_dir)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(result):
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        raise SystemExit(f"perfbench: harness failed (rc={rc}); log in {log_path}")
    with open(result) as f:
        return json.load(f)


def by_kind(ops, traced=None):
    out = {}
    for o in ops:
        if traced is None or o["traced"] == traced:
            out.setdefault(o["kind"], []).append(o)
    return out


def end_to_end(res, named):
    """End-to-end metrics (identical names on every workload)."""
    kinds = by_kind(res["ops"], traced=False)
    pass_s = sum(median(o["wall_s"] for o in ops) for ops in kinds.values())
    kinds = by_kind(res["ops"])  # + the traced-only refresh probe
    for kind in ("rebuild_drift", "rebuild_bulk", "refresh"):
        if kind in kinds:
            wall = median(o["wall_s"] for o in kinds[kind])
            named[f"{kind}_s"] = (wall, "s")
            if kind.startswith("rebuild"):
                named[f"{kind}_rows_per_s"] = (kinds[kind][-1]["report"]["input_rows"] / wall,
                                               "rows/s")
    if res["workload"] == "registry_mix":
        for group in ("headline", "heavy"):
            named[f"{group}_s"] = (sum(median(o["wall_s"] for o in kinds[q])
                                       for q in res[group]), "s")
    return {
        "setup_s": (median(res["setup_runs_s"]), "s"),
        "pass_s": (pass_s, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "peak_live_heap_mb": (res["peak_live_heap_mb"], "MB"),
    }


def table_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if f.endswith(".parquet"))
    return total


def hostile_outcomes(res, manifest, data):
    """Each hostile class × {run, runIncremental}: correct, refused, crash
    or wrong. `refused` = a bad file reported in skippedFiles with every
    other row right; `wrong` = a valid file skipped or a wrong answer."""
    counts = {"correct": 0, "refused": 0, "crash": 0, "wrong": 0}
    lines = []
    for h in res["probes"].get("hostile", []):
        files = [f for f in manifest["hostile"] if f["group"] == h["class"]]
        if h["outcome"] == "crash":
            verdict, why = "crash", h["error"]
        else:
            problems = oracle.check_taxi(data, files, h, h["output"])
            verdict = ("wrong" if problems else
                       "refused" if any(f["class"] == "refused" for f in files) else "correct")
            why = "; ".join(problems)
        counts[verdict] += 1
        lines.append(f"hostile {h['class']:<18} {h['mode']:<15} {verdict:<8} {why[:200]}")
    return counts, lines


def per_layer(res, manifest, data, run_dir):
    traced = by_kind(res["ops"], traced=True)
    untraced = by_kind(res["ops"], traced=False)

    def stat(name, kinds=None, scale=1.0):
        return sum(median(o["stats"][name] for o in ops) * scale
                   for k, ops in traced.items() if kinds is None or k in kinds)

    def layer(name):
        return sum(median(o["layers"].get(name, 0.0) for o in ops) for ops in traced.values())

    wall = sum(median(o["wall_s"] for o in ops) for ops in traced.values())
    task_s = stat("task_s")
    probes = res["probes"]
    refresh_out = stat("output_bytes", {"refresh"})
    final_bytes = table_bytes(os.path.join(run_dir, "out", "refresh", "wide_table.parquet"))
    # taxi: run() is one span; its discover and plan shares are probes
    # outside the operations, and execute is the rest of run()
    discover_s, plan_s = probes.get("discover_s", 0.0), probes.get("plan_s", 0.0)
    run_s = layer("pipeline.run")
    m = {
        "ingest.discover_s": (discover_s, "s"),
        "ingest.detect_s": (probes.get("detect_s", 0.0), "s"),
        "ingest.files": (probes.get("files", 0), "count"),
        "ingest.dialects": (probes.get("dialects", 0), "count"),
        "ingest.skipped_files": (probes.get("skipped", 0), "count"),
        "pipeline.plan_s": (plan_s, "s"),
        "pipeline.scan_leaves": (stat("scan_leaves", {"rebuild_drift", "rebuild_bulk"}), "count"),
        "pipeline.execute_s": (run_s - discover_s - plan_s if run_s else 0.0, "s"),
        "pipeline.refresh_jobs": (stat("jobs", {"refresh"}), "count"),
        "pipeline.write_amp": (refresh_out / final_bytes if final_bytes else 0.0, "ratio"),
        "pipeline.reread_mb": (stat("reread_bytes", {"refresh"}, 1 / MB), "MB"),
        "queries.build_s": (layer("queries.build"), "s"),
        "queries.build_jobs": (stat("build_jobs") if res["workload"] == "registry_mix" else 0,
                               "count"),
        "queries.exec_s": (layer("queries.exec"), "s"),
        "catalyst.plan_s": (stat("plan_s"), "s"),
        "spark.jobs": (stat("jobs"), "count"),
        "spark.stages": (stat("stages"), "count"),
        "spark.idle_s": (stat("idle_s"), "s"),
        "spark.task_s": (task_s, "s"),
        "spark.task_cpu_s": (stat("task_cpu_s"), "s"),
        # bytes of the files the scans opened (the planner's "size of files
        # read"); task input metrics miss most of the vectorized reads
        "spark.input_mb": (stat("scan_bytes", scale=1 / MB), "MB"),
        "spark.input_rows": (stat("input_rows"), "count"),
        "spark.core_util": (task_s / (wall * int(res["cpus"])) if wall else 0.0, "ratio"),
        "spark.shuffle_write_mb": (stat("shuffle_write_bytes", scale=1 / MB), "MB"),
        "spark.shuffle_read_mb": (stat("shuffle_read_bytes", scale=1 / MB), "MB"),
        "spark.spill_mb": (stat("spill_bytes", scale=1 / MB), "MB"),
        "spark.output_mb": (stat("output_bytes", scale=1 / MB), "MB"),
        "pins.count": (stat("pin_rdds"), "count"),
        "pins.mb": (stat("pin_bytes", scale=1 / MB), "MB"),
        "jvm.gc_s": (res["gc_s"] / res["passes"], "s"),
        "trace.overhead_s": (sum(median(o["wall_s"] for o in traced[k])
                                 - median(o["wall_s"] for o in untraced[k])
                                 for k in traced if k in untraced), "s"),
        "trace.residual_s": (sum(median(o["wall_s"] - sum(o["layers"].values()) for o in ops)
                                 for ops in traced.values()), "s"),
    }
    counts, lines = (hostile_outcomes(res, manifest, data) if "hostile" in probes
                     else ({"correct": 0, "refused": 0, "crash": 0, "wrong": 0}, []))
    for k, v in counts.items():
        m[f"hostile.{k}"] = (v, "count")
    return m, lines


def checks(res, manifest, data, run_dir):
    """Untimed output checks; returns the list of failed checks."""
    w = res["workload"]
    failed = []
    if w == "registry_mix":
        verdicts = oracle.check_registry(REPO, os.path.join(data, "tables"),
                                         os.path.join(run_dir, "out", "registry"),
                                         res["oracle_sql"], res["min_distinct"])
        missing = set(res["headline"] + res["heavy"]) - set(verdicts)
        failed += [f"{q}: no oracle" for q in sorted(missing)]
        failed += [f"{q}: {v}" for q, v in verdicts.items() if not v.startswith("OK")]
        return failed
    # every taxi operation, traced or not, is one call to run() or
    # runIncremental(); the last of a kind wrote the directory checked
    for kind, ops in by_kind(res["ops"]).items():
        corpus, out = TAXI_OPS[kind]
        out = os.path.join(run_dir, "out", out, "wide_table.parquet")
        problems = oracle.check_taxi(data, manifest[corpus], ops[-1]["report"], out)
        failed += [f"{kind}: {p}" for p in problems]
    return failed


def run_workload(workload, seed, seconds, trace, classpath, deadline):
    data = os.path.join(WORK, "data", workload)
    manifest = gen.generate(workload, seed, data)
    run_dir = os.path.join(WORK, "run", workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    setups = [run_harness(workload, seed, seconds, trace, data, run_dir, classpath, deadline,
                          setup_only=True) for _ in range(SETUP_RUNS - 1)]
    res = run_harness(workload, seed, seconds, trace, data, run_dir, classpath, deadline)
    setups.append(res)
    res["setup_runs_s"] = [s["setup_s"] for s in setups]
    failed = res["failures"] + checks(res, manifest, data, run_dir)
    named = {}
    e2e = end_to_end(res, named)
    # timed operations + one per set-up + the warm-up pass
    attempted = len(res["ops"]) + SETUP_RUNS + res["warmup_ops"]
    named["failed_ratio"] = (len(failed) / attempted, "ratio")
    print(f"# {workload} seed={seed} cores={res['cpus']} heap={res['heap_mb']}MB "
          f"passes={res['passes']}")
    for s in setups:
        jvm, session, first = s["setup_parts_s"]
        print(f"# set-up {s['setup_s']:.3f} s = JVM start {jvm:.3f} + session {session:.3f} "
              f"+ first operation {first:.3f}")
    for name, (v, unit) in {**e2e, **named}.items():
        print(f"{workload}.{name} = {v:.6g} {unit}")
    for f in failed:
        print(f"{workload} FAILED {f}")
    metrics = e2e
    if trace:
        metrics, lines = per_layer(res, manifest, data, run_dir)
        for line in lines:
            print(line)
        for name, (v, unit) in metrics.items():
            print(f"{workload}.{name} = {v:.6g} {unit}")
    return not failed, attempted, len(failed), metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    classpath = build.build(REPO, os.path.join(WORK, "build"))
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    # the build is allowed its own time; each workload then gets TIMEOUT_S
    deadline = time.time()
    ok, attempted, failed, metrics = True, 0, 0, {}
    for w in names:
        deadline += TIMEOUT_S
        c, a, f, m = run_workload(w, args.seed, args.seconds, args.trace, classpath, deadline)
        ok, attempted, failed = ok and c, attempted + a, failed + f
        prefix = f"{w}." if len(names) > 1 else ""
        metrics.update({prefix + k: {"value": v, "unit": u} for k, (v, u) in m.items()})
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
