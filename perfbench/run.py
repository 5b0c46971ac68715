#!/usr/bin/env python3
"""The benchmark command: one run of one workload.

    python3 perfbench/run.py --workload <serve|sweep|catalog|stream> \
        --seed <n> --seconds <s> --trace <0|1> [--quick 1]

Run it from the root of a checkout of the program. It builds the benchmark
package (perfbench/build.sbt, which compiles the program from source) when
the sources changed since the last build, makes the workload's inputs from
the seed, runs the workload in one JVM with Spark as local[nproc], checks
the outputs (check.py) and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics; a per-layer metric of a layer the
workload does not reach reads 0. The full report of the run (both metric
sets, the facts the checks used, the load average before and after, the
share of busy CPU time the host took as steal during the JVM) is
written to .bench_build/perfbench/work/<workload>/report.json, and a traced
run's spans to trace.json beside it. --quick 1 shrinks every input so that
all four workloads and their checks finish in a few minutes.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

WORKLOADS = ("serve", "sweep", "catalog", "stream")
# per-layer metric prefixes each workload reaches
LAYERS = {
    "serve": ("engine.Api.", "engine.HttpApi.", "engine.RunStore.", "kernel.estimate_us"),
    "sweep": ("core.", "kernel.", "engine."),
    "catalog": ("operators.",),
    "stream": ("streaming.", "sources."),
}
CATALOG_SF = 0.01
STREAM_SF = 0.1
STREAM_FILES = 4
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """The benchmark's runtime classpath, building first when needed."""
    stamp = os.path.join(BUILD, "classpath.json")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s["fingerprint"] == fp and all(os.path.exists(p) for p in s["classpath"].split(":")[:2]):
            return s["classpath"]
    log("building the benchmark package (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        raise SystemExit("[perfbench] build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def steal_ticks():
    """(steal, busy) CPU ticks of the machine so far, from /proc/stat; busy
    is every tick that is not idle or iowait. On a virtual machine the host
    takes CPU time back from busy vCPUs (steal), which slows every phase of
    a run; set-up time is netted of it as the JVM nets the timed metrics
    (Main.scala, Ctx.netOfSteal). (0, 0) where /proc/stat is not readable."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return v[7], sum(v) - v[3] - v[4]


def nproc():
    return len(os.sched_getaffinity(0))


def prepare(workload, seed, quick, work):
    """The workload's input files, made from the seed; returns the --data dir."""
    import datagen
    if workload == "catalog":
        data = os.path.join(work, "data")
        datagen.write_tables(data, 0.001 if quick else CATALOG_SF, seed)
        return data
    if workload == "stream":
        tables = os.path.join(work, "tables")
        datagen.write_tables(tables, 0.001 if quick else STREAM_SF, seed, only=("events",))
        files = os.path.join(work, "files")
        datagen.split_events(os.path.join(tables, "events.parquet"), files,
                             4 if quick else STREAM_FILES)
        return files
    return None


def run(args, spec):
    cp = classpath()
    start = time.time()
    load_before = os.getloadavg()
    steal0 = steal_ticks()
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = prepare(args.workload, args.seed, args.quick, work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *JVM_OPENS, "-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--quick", str(args.quick), "--work", work, "--cores", str(nproc())]
    if data:
        cmd += ["--data", data]
    with open(os.path.join(work, "jvm.log"), "w") as jvm_log:
        try:
            p = subprocess.run(cmd, stdout=jvm_log, stderr=subprocess.STDOUT, cwd=work,
                               timeout=170)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"[perfbench] {args.workload} JVM did not finish in 170 s")
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"[perfbench] {args.workload} JVM exited with {p.returncode}")
    steal1 = steal_ticks()
    busy = steal1[1] - steal0[1]
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    import check
    problems = check.CHECKS[args.workload](work)
    for pr in problems:
        log(f"check failed: {pr}")

    setup_wall = res["timed_start_ms"] / 1000.0 - start
    st_timed, busy_timed = res["steal_ticks_at_timed"]
    setup_steal = (st_timed - steal0[0]) / (busy_timed - steal0[1]) \
        if busy_timed > steal0[1] else 0.0
    e2e = dict(res["e2e"], setup_s=setup_wall * (1.0 - setup_steal))
    layer = res["layer"]
    if args.trace:
        own = [m["name"] for m in spec["per_layer"] if m["name"].startswith(LAYERS[args.workload])]
        missing = [n for n in own if n not in layer]
        if missing:
            problems.append(f"traced run lacks {missing}")
    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in chosen}
    if not args.trace:
        missing = [m["name"] for m in chosen if m["name"] not in values]
        if missing:
            problems.append(f"run lacks {missing}")
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "quick": args.quick, "correct": not problems,
              "problems": problems, "attempted": res["attempted"], "failed": res["failed"],
              "end_to_end": e2e, "per_layer": layer, "facts": res["facts"],
              "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
              "steal_share": (steal1[0] - steal0[0]) / busy if busy else 0.0,
              "setup_s_wall": setup_wall, "setup_steal_share": setup_steal, "nproc": nproc()}
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    return {"correct": not problems, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--quick", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(spec_file)):
        raise SystemExit("[perfbench] run from the root of a checkout of the program "
                         "(build.sbt, src/main/scala and BENCHMARK.json must be there)")
    with open(spec_file) as f:
        spec = json.load(f)
    print(json.dumps(run(args, spec)), flush=True)


if __name__ == "__main__":
    main()
