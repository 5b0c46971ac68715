#!/usr/bin/env python3
"""Steadiness of the benchmark: runs each workload repeatedly, interleaved
(serve, sweep, catalog, stream, serve, ...), each run with its own seed,
and prints per workload and end-to-end metric the median, the quartiles
and the spread (third minus first quartile, as a share of the median)
next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--workloads serve,stream]
                                [--seed0 1] [--traced 1]

With --traced 1 it also makes one traced run per workload after the
untraced ones and reports the traced minus untraced difference of every
end-to-end metric (the tracing overhead). Every run records the load
average before and after it and the share of busy CPU time the host took as
steal (over the whole run and over the timed phase); both are context, not
metrics.
The whole record goes to .bench_build/perfbench/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def one_run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited with {p.returncode}")
    line = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(OUT, "work", workload, "report.json")) as f:
        report = json.load(f)
    return {"seed": seed, "trace": trace, "wall_s": time.time() - t0, "correct": line["correct"],
            "attempted": line["attempted"], "failed": line["failed"],
            "end_to_end": report["end_to_end"], "per_layer": report["per_layer"],
            "loadavg_before": report["loadavg_before"], "loadavg_after": report["loadavg_after"],
            "steal_share": report["steal_share"],
            "timed_steal_share": report["facts"].get("timed_steal_share", 0.0),
            "e2e_wall": dict(report["facts"].get("e2e_wall", {}),
                             setup_s=report.get("setup_s_wall"))}


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values) if statistics.median(values) else 0.0}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--traced", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    runs = {w: [] for w in workloads}
    for i in range(args.runs):
        for w in workloads:
            r = one_run(w, args.seed0 + i, args.seconds, 0)
            runs[w].append(r)
            print(f"{w} seed {r['seed']}: {r['wall_s']:.0f} s correct={r['correct']} load "
                  f"{r['loadavg_before'][0]:.2f}->{r['loadavg_after'][0]:.2f} "
                  f"steal {r['steal_share']:.0%} (timed {r['timed_steal_share']:.0%}) "
                  + " ".join(f"{k}={v:.4g}" for k, v in sorted(r["end_to_end"].items())),
                  flush=True)
    traced = {w: one_run(w, args.seed0, args.seconds, 1) for w in workloads} if args.traced else {}

    report = {"seconds": args.seconds, "runs": runs, "traced": traced, "metrics": {}}
    print(f"\n{'workload':8} {'metric':18} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6} {'traced':>8}")
    for w in workloads:
        shares = {r["failed"] / r["attempted"] for r in runs[w]}
        report["metrics"][w] = {"failed_share": sorted(shares)}
        for m in spec["end_to_end"]:
            vals = [r["end_to_end"][m["name"]] for r in runs[w]]
            s = summary(vals) if len(vals) > 1 else {"median": vals[0], "q1": vals[0],
                                                      "q3": vals[0], "spread": 0.0}
            if w in traced:
                s["traced_minus_untraced"] = (traced[w]["end_to_end"][m["name"]] - s["median"]) \
                    / s["median"]
            report["metrics"][w][m["name"]] = s
            flag = "" if m["name"] == "setup_s" or s["spread"] <= m["bound"] / 3 else \
                " <- above a third of the bound"
            over = f"{s['traced_minus_untraced']:+8.1%}" if w in traced else ""
            print(f"{w:8} {m['name']:18} {s['median']:12.5g} {s['q1']:12.5g} {s['q3']:12.5g} "
                  f"{s['spread']:7.1%} {m['bound']:6.0%} {over:>8}{flag}")
        print(f"{w:8} failed share per run: {sorted(shares)}; all correct: "
              f"{all(r['correct'] for r in runs[w])}; mean wall "
              f"{statistics.mean(r['wall_s'] for r in runs[w]):.1f} s")
    with open(os.path.join(OUT, "steady.json"), "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
