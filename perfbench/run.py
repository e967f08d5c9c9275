#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload sql_warm --seed 1 --seconds 10 --trace 0

Run from the repository root. It compiles the program (src/main) and
the harness against the Spark jars unless classes built from exactly
the current sources exist, writes the seeded inputs, runs one harness
JVM (warm-up passes, timed passes, one check observation per gate),
checks every gate's output against its DuckDB oracle, and prints every
metric by name with its unit. The last stdout line is one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything it writes goes under .bench_build/perfbench/. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import socket
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402

HEAP = "2g"  # initial = maximum, so heap sizing does not vary between runs
HARNESS_TIMEOUT_S = 150
FRESH_INPUTS = 8  # warm-up plus timed passes a fresh-input run can use
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
FAMILIES = ["core", "functions", "dedup-ann", "text", "mixing", "streaming", "catalog"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    resources = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**"),
                                            recursive=True) if os.path.isfile(p))
    return main, harness, resources


def spark_jars(root):
    """The jar directory the program's build.sbt compiles against
    (`unmanagedBase`); the Scala compiler ships there too."""
    path = os.path.join(root, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(path).read() if os.path.exists(path) else "")
    if not m:
        fail("no unmanagedBase jar directory in build.sbt")
    return sorted(glob.glob(os.path.join(m.group(1), "*.jar")))


def build(root, work, jars):
    """Compile program and harness into work/build; reuse them only when
    the stamp matches the hash of every source and the jar list, so the
    harness never runs on stale classes."""
    main, harness, resources = sources(root)
    if not main:
        fail("no program sources under src/main/scala")
    if not harness or not jars or shutil.which("java") is None:
        fail("harness sources, Spark jars or java missing")
    h = hashlib.sha256()
    for p in main + harness + resources:
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\0".join(os.path.basename(j) for j in jars).encode())
    digest = h.hexdigest()
    bdir = os.path.join(work, "build")
    stamp = os.path.join(bdir, "STAMP")
    prog, hcls = os.path.join(bdir, "program"), os.path.join(bdir, "harness")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return prog, hcls, digest, False
    shutil.rmtree(bdir, ignore_errors=True)
    os.makedirs(prog)
    os.makedirs(hcls)
    cp = ":".join(jars)
    for out, files, extra in ((prog, main, ""), (hcls, harness, ":" + prog)):
        argfile = os.path.join(bdir, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(files))
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                            "scala.tools.nsc.Main", "-nowarn", "-d", out,
                            "-classpath", cp + extra, "@" + argfile],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            fail("compile failed:\n" + r.stdout[-4000:], 3)
    with open(stamp, "w") as f:
        f.write(digest)
    return prog, hcls, digest, True


def meminfo_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return None


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def git_sha(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return r.stdout.strip() or None


def median(xs):
    return float(np.median(xs)) if len(xs) else 0.0


def p90(xs):
    return float(np.percentile(xs, 90)) if len(xs) else 0.0


def end_to_end(res, setup_s):
    """pass_s is the sum over gates of each gate's median observation."""
    obs = [o["wall_s"] for o in res["observations"]]
    per_gate = {}
    for o in res["observations"]:
        per_gate.setdefault(o["gate"], []).append(o["wall_s"])
    passes = len(res["passes"])
    return {
        "setup_s": (setup_s, "s", "JVM launch to end of the warm-up passes"),
        "pass_s": (sum(median(v) for v in per_gate.values()), "s",
                   f"sum of per-gate medians over {passes} timed passes"),
        "job_p50_s": (median(obs), "s", f"n={len(obs)} gate observations"),
        "rss_peak_mb": (res["rss_peak_mb"], "MB", "harness JVM VmHWM after the timed passes"),
    }


def per_layer(res, cores):
    """Per-pass means of the traced run's layer sums."""
    L = res.get("layers", [])

    def s(k):
        return sum(p[k] for p in L)

    def mean(k):
        return s(k) / max(len(L), 1)

    trig = [t for p in L for t in p["trigger_ms"]]
    ntrig = s("triggers")

    def per_trigger(k):
        return s(k) / ntrig if ntrig else 0.0
    heaps = [p["heap_after_gc_mb"] for p in res["passes"]]
    m = {
        "session.create_s": (res["session_create_s"], "s"),
        "warmup.pass_s": (res["warmup_pass_s"][0], "s"),
        "warmup.last_pass_s": (res["warmup_pass_s"][-1], "s"),
        "sources.load_ms": (mean("load_ms"), "ms"),
        "sources.loads": (mean("loads"), "count"),
        "gates.build_s": (mean("build_s"), "s"),
        "gates.exec_s": (mean("exec_s"), "s"),
        "gates.job_p90_s": (p90([o["wall_s"] for o in res["observations"]]), "s"),
    }
    for f in FAMILIES:
        m[f"gates.{f}.busy_s"] = (sum(p["family_busy_s"].get(f, 0.0) for p in L)
                                  / max(len(L), 1), "s")
    m.update({
        "planning.analysis_ms": (mean("analysis_ms"), "ms"),
        "planning.optimization_ms": (mean("optimization_ms"), "ms"),
        "planning.physical_ms": (mean("physical_ms"), "ms"),
        "sched.jobs": (mean("jobs"), "count"),
        "sched.stages": (mean("stages"), "count"),
        "sched.tasks": (mean("tasks"), "count"),
        "sched.driver_gap_s": (mean("driver_gap_s"), "s"),
        "sched.task_overhead_s": (mean("task_dur_s") - mean("run_s"), "s"),
        "sched.task_failed_frac": (s("tasks_failed") / s("tasks") if s("tasks") else 0.0, "ratio"),
        "executor.run_s": (mean("run_s"), "s"),
        "executor.cpu_s": (mean("cpu_s"), "s"),
        "executor.gc_s": (mean("gc_s"), "s"),
        "executor.util": (s("run_s") / (s("wall_s") * cores) if s("wall_s") else 0.0, "ratio"),
        "executor.peak_mem_mb": (max([p["peak_mem_mb"] for p in L] or [0.0]), "MB"),
        "shuffle.write_mb": (mean("shuffle_write_mb"), "MB"),
        "shuffle.read_mb": (mean("shuffle_read_mb"), "MB"),
        "shuffle.fetch_wait_s": (mean("fetch_wait_s"), "s"),
        "shuffle.spill_mb": (mean("spill_mb"), "MB"),
        "streaming.triggers": (mean("triggers"), "count"),
        "streaming.empty_trigger_frac": (s("empty_triggers") / ntrig if ntrig else 0.0, "ratio"),
        "streaming.trigger_p50_ms": (median(trig), "ms"),
        "streaming.trigger_p90_ms": (p90(trig), "ms"),
        "streaming.add_batch_ms": (per_trigger("add_batch_ms"), "ms"),
        "streaming.wal_commit_ms": (per_trigger("wal_commit_ms"), "ms"),
        "streaming.commit_offsets_ms": (per_trigger("commit_offsets_ms"), "ms"),
        "streaming.query_planning_ms": (per_trigger("query_planning_ms"), "ms"),
        "streaming.latest_offset_ms": (per_trigger("latest_offset_ms"), "ms"),
        "streaming.state_commit_ms": (per_trigger("state_commit_ms"), "ms"),
        "streaming.state_rows": (per_trigger("state_rows"), "count"),
        "streaming.state_mem_mb": (max([p["state_mem_mb"] for p in L] or [0.0]), "MB"),
        "catalog.bytes_written_mb": (mean("maint_out_mb"), "MB"),
        "catalog.records_written": (mean("maint_out_records"), "count"),
        "catalog.write_amp": (s("maint_out_mb") / s("maint_in_mb") if s("maint_in_mb") else 0.0,
                              "ratio"),
        "jvm.heap_after_gc_mb": (heaps[-1] if heaps else 0.0, "MB"),
        "jvm.heap_growth_mb": (heaps[-1] - heaps[0] if heaps else 0.0, "MB"),
        "trace.pass_s": (end_to_end(res, 0.0)["pass_s"][0], "s"),
        "trace.unreconciled_ms": (max([p["pass_self_ms"] for p in L] or [0.0]), "ms"),
    })
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}; have {sorted(spec['workloads'])}")
    wl = spec["workloads"][args.workload]
    work = os.path.join(root, ".bench_build", "perfbench")
    load_start = loadavg()
    jars = spark_jars(root)
    prog, hcls, digest, rebuilt = build(root, work, jars)

    run = os.path.join(work, "run")
    shutil.rmtree(run, ignore_errors=True)
    tmp, out = os.path.join(run, "tmp"), os.path.join(run, "out")
    os.makedirs(tmp)
    base = gen.base(spec["scale_factor"])
    n_inputs = FRESH_INPUTS if wl["fresh_input_per_pass"] else 1
    inputs, sizes = [], {}
    for i in range(n_inputs):
        d = os.path.join(run, f"input{i}")
        sizes[d] = gen.write_copy(base, d, [args.seed, i])
        inputs.append(d)

    cores = len(os.sched_getaffinity(0))
    cp = ":".join([hcls, prog, os.path.join(root, "src/main/resources")] + jars)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness",
            "gates=" + ",".join(wl["gates"]), "maintenance=" + ",".join(wl["maintenance"]),
            "inputs=" + ",".join(inputs), "fresh=" + ("1" if wl["fresh_input_per_pass"] else "0"),
            f"warmup={wl['warmup_passes']}",
            f"cores={cores}", f"seconds={args.seconds}", f"trace={args.trace}", f"out={out}"])
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_", "PYSPARK_", "_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS"))}
    log_path = os.path.join(run, "harness.log")
    with open(log_path, "w") as log:
        launch = time.time()
        proc = subprocess.Popen(cmd, cwd=run, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out after {HARNESS_TIMEOUT_S} s; log: {log_path}", 4)
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited {rc}; log tail:\n{tail}", 4)
    res = json.load(open(os.path.join(out, "result.json")))
    setup_s = res["warmup_end_epoch_ms"] / 1000 - launch

    t = time.time()
    verdict = oracle.check(res["check_dir"], out, res["gates"], cores)
    check_duck_s = time.time() - t
    for g, err in res["check_errors"].items():
        verdict[g] = "threw: " + err
    timed_failed = [o for o in res["observations"] if o["error"]]
    check_failed = {g: v for g, v in verdict.items() if v}
    attempted = len(res["observations"]) + len(res["gates"])
    failed = len(timed_failed) + len(check_failed)

    if args.trace:
        metrics = per_layer(res, cores)
        reconciled = all(p["pass_self_ms"] <= 0.05 * p["wall_s"] * 1000 and
                         p["gate_self_max_ms"] <= 1.0 for p in res.get("layers", []))
        notes = {}
    else:
        e2e = end_to_end(res, setup_s)
        metrics = {k: v[:2] for k, v in e2e.items()}
        notes = {k: v[2] for k, v in e2e.items()}
        reconciled = True
    correct = failed == 0 and reconciled

    provenance = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "git_sha": git_sha(root), "source_sha256": digest,
        "rebuilt": rebuilt, "host": socket.gethostname(), "nproc": cores,
        "mem_total_mb": meminfo_mb(), "jdk": res["java_version"],
        "spark": res["spark_version"], "xmx": HEAP, "max_heap_mb": res["max_heap_mb"],
        "spark_conf": res["conf"], "scale_factor": spec["scale_factor"],
        "gates": res["gates"],
        "inputs": {os.path.basename(d): {"rows": sum(r for r, _ in s.values()),
                                         "bytes": sum(b for _, b in s.values())}
                   for d, s in sizes.items()},
        "loadavg_start": load_start, "loadavg_end": loadavg(),
        "timed_passes": len(res["passes"]),
        "check_spark_s": res["check_spark_s"], "check_duckdb_s": check_duck_s,
        "timed_failures": {o["gate"]: o["error"] for o in timed_failed},
        "check_failures": check_failed, "reconciled": reconciled,
    }
    with open(os.path.join(run, "result.json"), "w") as f:
        json.dump({"provenance": provenance, "metrics": metrics, "harness": res}, f)

    print("# provenance " + json.dumps(provenance, sort_keys=True))
    print(f"# {args.workload} seed {args.seed}: {len(res['passes'])} timed passes, "
          f"{len(res['observations'])} gate observations, "
          f"{len(res['gates']) - len(check_failed)}/{len(res['gates'])} gates match the "
          f"oracle; check took {res['check_spark_s']:.2f} s Spark + {check_duck_s:.2f} s "
          f"DuckDB, outside every metric")
    if args.trace:
        print(f"# spans: {os.path.join(out, 'spans.jsonl')}")
    for k, (v, unit) in metrics.items():
        print(f"{k} = {v:.6g} {unit}" + (f"  ({notes[k]})" if k in notes else ""))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
