#!/usr/bin/env python3
"""Output checks of the benchmark, computed outside the program.

Each check reads what a run left in its work directory and returns a list
of problems (empty when the outputs are right). Re-run one alone with

    python3 perfbench/check.py <serve|sweep|catalog|stream> [work_dir]

(default work dir: .bench_build/perfbench/work/<workload>).

- catalog: each entry's rows against DuckDB running the entry's oracle SQL
  over the same parquet tables, columns sorted by name, with the float
  tolerance of the repository's oracle gate (relative 1e-9).
- stream: the sink's rows against DuckDB's 1-hour tumble of the same files,
  for every window the final watermark closed, with no (window, event_type)
  pair delivered twice.
- sweep (all outcomes, the large-state probe, and in a traced run the
  responses of its serve phases) and serve: fields derived here in closed form (JobManager tier from
  keys, rounded throughput, input echo, statement totals, TaskManager CPUs =
  total - JobManager) and properties the method must have (one outcome per
  input, exactly one of result or error, every seeded-invalid input
  rejected, min <= recommended <= max parallelism; a saved run reloads and
  downloads to the same numbers and is 404 once deleted).
"""
import glob
import json
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
TSHIRT = {"S": (16384.0, 8), "M": (65536.0, 16), "L": (96448.0, 48)}
KERNEL_ERRORS = ("No worker can host", "sizing overflow")


def _facts(work):
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)["facts"]


# ---- estimator fields in closed form ----------------------------------

# input fields by name -> the column names the checks use
IN_COLS = {
    "project_name": "name", "messages_per_second": "in_mps",
    "avg_record_size_bytes": "in_bytes", "number_flink_applications": "in_apps",
    "num_distinct_keys": "in_keys", "data_skew_risk": "in_skew",
    "bandwidth_capacity_gbps": "in_gbps", "expected_latency_seconds": "in_lat",
    "simple_statements": "in_simple", "medium_statements": "in_medium",
    "complex_statements": "in_complex", "worker_node_memory_mb": "in_mem",
    "worker_node_cpu_max": "in_cpu", "nb_worker_nodes": "in_nodes",
    "worker_node_type": "in_type", "worker_node_t_size": "in_tsize"}


def valid_by_rules(df):
    """The input constraints of the estimator's model, restated, for each
    row of a frame with the `IN_COLS` columns."""
    name = df["name"].fillna("")
    tsize = df["in_tsize"].where(df["in_tsize"].notna(), None)
    return ((name.str.len() > 0) & (name.str.len() <= 100) & (name.str.strip() != "")
            & (df["in_mps"] > 0) & (df["in_bytes"] > 0) & (df["in_apps"] >= 1)
            & (df["in_keys"] >= 1) & df["in_skew"].isin(["low", "medium", "high"])
            & (df["in_gbps"] > 0) & (df["in_lat"] > 0)
            & (df[["in_simple", "in_medium", "in_complex"]].min(axis=1) >= 0)
            & (df["in_mem"] > 0) & (df["in_mem"] <= 512 * 1024)
            & df["in_cpu"].between(2, 256) & (df["in_nodes"] >= 1)
            & df["in_type"].isin(["bare_metal", "VM"])
            & (tsize.isna() | tsize.isin(list(TSHIRT)))
            & ~((df["in_type"] == "VM") & tsize.isna())).to_numpy()


def result_problems(c):
    """Closed-form checks over sized results. `c` maps field names to
    equal-length numpy arrays (input fields `in_*`, result fields by name).
    Returns {check: number of rows that fail it}."""
    keys = c["in_keys"]
    apps = c["in_apps"]
    stmts = c["in_simple"] + c["in_medium"] + c["in_complex"]
    vm = c["in_type"] == "VM"
    tsize = c["in_tsize"]
    ts_mb = np.array([TSHIRT[t][0] if t in TSHIRT else 0.0 for t in tsize])
    ts_cpu = np.array([TSHIRT[t][1] if t in TSHIRT else 0 for t in tsize])
    jm_cpu = np.where(keys <= 10_000_000, 1, np.where(keys <= 100_000_000, 2, 4))
    jm_mem = np.where(keys <= 10_000_000, 2048, np.where(keys <= 100_000_000, 4096, 8192))
    thr = np.array([round(m * b / 1048576, 2) for m, b in zip(c["in_mps"].tolist(),
                                                              c["in_bytes"].tolist())])
    out = {
        "jobmanager tier from keys": (c["jm_mem"] != jm_mem) | (c["jm_cpus"] != jm_cpu),
        "rounded throughput": c["out_thr"] != thr,
        "input echo": (
            (c["out_mps"] != c["in_mps"]) | (c["out_bytes"] != c["in_bytes"])
            | (c["out_keys"] != keys) | (c["out_skew"] != c["in_skew"])
            | (c["out_bw_mbps"] != c["in_gbps"] * 1000) | (c["out_lat"] != c["in_lat"])
            | (c["out_simple"] != c["in_simple"]) | (c["out_medium"] != c["in_medium"])
            | (c["out_complex"] != c["in_complex"]) | (c["out_tsize"] != tsize)
            | (c["out_mem_cap"] != np.where(vm, ts_mb, c["in_mem"]))
            | (c["out_cpu_cap"] != np.where(vm, ts_cpu, c["in_cpu"]))),
        "statement totals": (
            (c["out_total_statements"] != stmts * apps)
            | (c["cap_statements"] != stmts * apps * apps) | (c["cap_apps"] != apps)),
        "taskmanager cpus = total - jobmanager": c["tm_cpus"] != c["total_cpus"] - c["jm_cpus"],
        "taskmanager memory = count x each": c["tm_total_mem"] != c["tm_count"] * c["tm_mem_each"],
        "min <= recommended <= max parallelism": (
            (c["min_par"] > c["rec_par"]) | (c["rec_par"] > c["max_par"])),
    }
    return {k: int(np.count_nonzero(v)) for k, v in out.items()}


def _flatten(inp, res):
    """One (input, result) pair as the flat fields `result_problems` reads."""
    s, e = res["input_summary"], res["resource_estimates"]
    jm = res["cluster_recommendations"]["jobmanager"]
    tm = res["cluster_recommendations"]["taskmanagers"]
    sc, ca = res["scaling_recommendations"], res["capacity_analysis"]
    return {
        "in_mps": inp["messages_per_second"], "in_bytes": inp["avg_record_size_bytes"],
        "in_apps": inp["number_flink_applications"], "in_keys": inp["num_distinct_keys"],
        "in_skew": inp["data_skew_risk"], "in_gbps": inp["bandwidth_capacity_gbps"],
        "in_lat": inp["expected_latency_seconds"], "in_simple": inp["simple_statements"],
        "in_medium": inp["medium_statements"], "in_complex": inp["complex_statements"],
        "in_mem": inp["worker_node_memory_mb"], "in_cpu": inp["worker_node_cpu_max"],
        "in_type": inp["worker_node_type"], "in_tsize": inp.get("worker_node_t_size"),
        "out_mps": s["messages_per_second"], "out_bytes": s["avg_record_size_bytes"],
        "out_thr": s["total_throughput_mb_per_sec"], "out_keys": s["num_distinct_keys"],
        "out_skew": s["data_skew_risk"], "out_bw_mbps": s["bandwidth_capacity_mbps"],
        "out_lat": s["expected_latency_seconds"], "out_simple": s["simple_statements"],
        "out_medium": s["medium_statements"], "out_complex": s["complex_statements"],
        "out_total_statements": s["total_statements"],
        "out_mem_cap": s["worker_node_memory_capacity_mb"],
        "out_cpu_cap": s["worker_node_cpu_capacity"], "out_tsize": s.get("worker_node_t_size"),
        "total_cpus": e["total_cpus"], "jm_mem": jm["memory_mb"], "jm_cpus": jm["total_cpus"],
        "tm_cpus": tm["total_cpus"], "tm_count": tm["count"],
        "tm_total_mem": tm["total_memory_mb"], "tm_mem_each": tm["memory_mb_each"],
        "min_par": sc["min_parallelism"], "rec_par": sc["recommended_parallelism"],
        "max_par": sc["max_parallelism"], "cap_statements": ca["total_flink_statements"],
        "cap_apps": ca["total_flink_applications"],
    }


def _columns(rows):
    keys = rows[0].keys() if rows else []
    return {k: np.array([r[k] for r in rows], dtype=object if k in (
        "in_skew", "in_type", "in_tsize", "out_skew", "out_tsize") else None)
            for k in keys}


def _report(problems, counts, what):
    for k, n in counts.items():
        if n:
            problems.append(f"{what}: {n} rows fail '{k}'")


# ---- workloads --------------------------------------------------------

def check_serve(work):
    return check_responses(_facts(work)["responses"])


def check_responses(path):
    """The serve checks over one run's responses.json."""
    with open(path) as f:
        r = json.load(f)
    problems = [f"{x['method']} {x['input']['project_name']!r} got status {x['status']}"
                for x in r["wrong_status"]][:5]
    sized = []
    valid = valid_by_rules(pd.DataFrame([x["input"] for x in r["requests"]]).rename(columns=IN_COLS))
    for x, ok in zip(r["requests"], valid):
        inp, status = x["input"], x["status"]
        fail_status = 400 if x["method"] == "GET" else 500
        if x["invalid_rule"] is not None or not ok:
            if x["invalid_rule"] is None or ok or status != fail_status:
                problems.append(f"invalid {x['method']} {inp['project_name']!r}: status {status}")
        elif status == 200:
            sized.append(_flatten(inp, json.loads(x["body"])))
        elif status != fail_status or not any(m in x["body"] for m in KERNEL_ERRORS):
            problems.append(f"valid {x['method']} {inp['project_name']!r}: {status} {x['body'][:80]}")
    if not sized:
        problems.append("no sized estimate among the sampled responses")
    else:
        _report(problems, result_problems(_columns(sized)), "estimate")
    saved = []
    for c in r["cycles"]:
        name = c["filename"]
        if c["statuses"] != [200] * 5:
            problems.append(f"cycle {name}: statuses {c['statuses']}")
            continue
        if not c["listed"]:
            problems.append(f"cycle {name}: not in the saved-run list")
        doc = json.loads(c["download_body"])
        inp, res = doc["input_parameters"], doc["estimation_results"]
        sent = dict(c["input"])
        if sent["worker_node_type"] == "VM":
            sent["worker_node_memory_mb"], sent["worker_node_cpu_max"] = TSHIRT[sent["worker_node_t_size"]]
        if any(inp.get(k) != v for k, v in sent.items()):
            problems.append(f"cycle {name}: saved input differs from the one sent")
        saved.append(_flatten(inp, res))
        e = res["resource_estimates"]
        for needle in (f"Reloaded {name}", f"total_cpus: {e['total_cpus']}",
                       f"total_memory_mb: {e['total_memory_mb']}"):
            if needle not in c["reload_body"]:
                problems.append(f"cycle {name}: reload page lacks {needle!r}")
        if c["after_delete_status"] != 404:
            problems.append(f"cycle {name}: download after delete gave {c['after_delete_status']}")
    if saved:
        _report(problems, result_problems(_columns(saved)), "saved run")
    return problems


SWEEP_SQL = """
SELECT input.project_name AS name, result IS NOT NULL AS sized, error IS NOT NULL AS errored,
  error,
  input.messages_per_second AS in_mps, input.avg_record_size_bytes AS in_bytes,
  input.number_flink_applications AS in_apps, input.num_distinct_keys AS in_keys,
  input.data_skew_risk AS in_skew, input.bandwidth_capacity_gbps AS in_gbps,
  input.expected_latency_seconds AS in_lat, input.simple_statements AS in_simple,
  input.medium_statements AS in_medium, input.complex_statements AS in_complex,
  input.worker_node_memory_mb AS in_mem, input.worker_node_cpu_max AS in_cpu,
  input.worker_node_type AS in_type, input.worker_node_t_size AS in_tsize,
  input.nb_worker_nodes AS in_nodes,
  result.input_summary.messages_per_second AS out_mps,
  result.input_summary.avg_record_size_bytes AS out_bytes,
  result.input_summary.total_throughput_mb_per_sec AS out_thr,
  result.input_summary.num_distinct_keys AS out_keys,
  result.input_summary.data_skew_risk AS out_skew,
  result.input_summary.bandwidth_capacity_mbps AS out_bw_mbps,
  result.input_summary.expected_latency_seconds AS out_lat,
  result.input_summary.simple_statements AS out_simple,
  result.input_summary.medium_statements AS out_medium,
  result.input_summary.complex_statements AS out_complex,
  result.input_summary.total_statements AS out_total_statements,
  result.input_summary.worker_node_memory_capacity_mb AS out_mem_cap,
  result.input_summary.worker_node_cpu_capacity AS out_cpu_cap,
  result.input_summary.worker_node_t_size AS out_tsize,
  result.resource_estimates.total_cpus AS total_cpus,
  result.cluster_recommendations.jobmanager.memory_mb AS jm_mem,
  result.cluster_recommendations.jobmanager.total_cpus AS jm_cpus,
  result.cluster_recommendations.taskmanagers.total_cpus AS tm_cpus,
  result.cluster_recommendations.taskmanagers.count AS tm_count,
  result.cluster_recommendations.taskmanagers.total_memory_mb AS tm_total_mem,
  result.cluster_recommendations.taskmanagers.memory_mb_each AS tm_mem_each,
  result.scaling_recommendations.min_parallelism AS min_par,
  result.scaling_recommendations.recommended_parallelism AS rec_par,
  result.scaling_recommendations.max_parallelism AS max_par,
  result.capacity_analysis.total_flink_statements AS cap_statements,
  result.capacity_analysis.total_flink_applications AS cap_apps
FROM read_parquet(?)
"""


def check_sweep(work):
    facts = _facts(work)
    files = glob.glob(os.path.join(facts["outcomes"], "*.parquet"))
    probe = glob.glob(os.path.join(facts["probe_outcomes"], "*.parquet"))
    df = duckdb.connect().execute(SWEEP_SQL, [files + probe]).fetchdf()
    problems = []
    n = int(facts["rows"]) + 1
    if len(df) != n:
        problems.append(f"{len(df)} outcomes for {n} inputs")
    if not df.loc[df["name"] == "large-state-probe", "sized"].all():
        problems.append("the large-state probe was not sized")
    named = df["name"].str.strip() != ""
    if df.loc[named, "name"].nunique() != int(named.sum()):
        problems.append("an input has more than one outcome")
    both = int((df["sized"] == df["errored"]).sum())
    if both:
        problems.append(f"{both} outcomes have both or neither of result and error")
    seeded_invalid = df["name"].str.contains("-inv-") | ~named
    by_rules = valid_by_rules(df)
    if (seeded_invalid.to_numpy() == by_rules).any():
        problems.append("the seeded-invalid marks disagree with the input rules")
    wrongly_sized = int((df["sized"] & ~by_rules).sum())
    if wrongly_sized:
        problems.append(f"{wrongly_sized} invalid inputs were sized")
    valid_rejected = df[~df["sized"] & by_rules]
    odd = valid_rejected[~valid_rejected["error"].str.contains("|".join(KERNEL_ERRORS))]
    if len(odd):
        problems.append(f"{len(odd)} valid inputs rejected without a sizing error: "
                        f"{odd['error'].iloc[0][:80]}")
    sized = df[df["sized"]]
    cols = {k: sized[k].to_numpy() for k in sized.columns}
    cols["in_tsize"] = np.array([None if not isinstance(t, str) else t for t in cols["in_tsize"]],
                                dtype=object)
    cols["out_tsize"] = np.array([None if not isinstance(t, str) else t for t in cols["out_tsize"]],
                                 dtype=object)
    _report(problems, result_problems(cols), "sweep")
    # a traced sweep also runs the serve phases; their answers are checked too
    if "serve_responses" in facts:
        problems += [f"serve phases: {p}" for p in check_responses(facts["serve_responses"])]
    return problems


def _same(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def check_catalog(work):
    facts = _facts(work)
    out, data = facts["out"], os.path.join(work, "data")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    problems = []
    for name in facts["entries"]:
        if name not in oracles:
            problems.append(f"{name}: no oracle SQL")
            continue
        files = glob.glob(os.path.join(out, name, "*.parquet"))
        got = con.execute("SELECT * FROM read_parquet(?)", [files]).fetchdf()
        exp = con.execute(oracles[name]).fetchdf()
        got, exp = got[sorted(got.columns)], exp[sorted(exp.columns)]
        if list(got.columns) != list(exp.columns):
            problems.append(f"{name}: columns {list(got.columns)} != {list(exp.columns)}")
        elif len(got) != len(exp):
            problems.append(f"{name}: {len(got)} rows, oracle {len(exp)}")
        elif len(got) == 0:
            problems.append(f"{name}: no rows")
        else:
            for col in got.columns:
                if got[col].dtype != exp[col].dtype:
                    problems.append(f"{name}: {col} is {got[col].dtype}, oracle {exp[col].dtype}")
                    break
                bad = [i for i, (a, b) in enumerate(zip(got[col].tolist(), exp[col].tolist()))
                       if not _same(a, b)]
                if bad:
                    i = bad[0]
                    problems.append(f"{name}: {col} row {i}: {got[col].iloc[i]!r} != "
                                    f"{exp[col].iloc[i]!r} ({len(bad)} rows differ)")
                    break
    return problems


STREAM_SQL = """
WITH windows AS (
  SELECT epoch_us(time_bucket(INTERVAL 1 hour, ts)) AS h, event_type, count(*) AS cnt,
         sum(CAST(value AS DECIMAL(18, 2)))::DOUBLE AS sv
  FROM read_parquet(?) GROUP BY ALL),
expected AS (SELECT * FROM windows WHERE h + 3600000000 <= ?),
got AS (
  SELECT epoch_us(h) AS h, event_type, cnt, sv FROM read_parquet(?, hive_partitioning = true))
SELECT
  (SELECT count(*) FROM expected) AS expected_rows,
  (SELECT count(*) FROM got) AS got_rows,
  (SELECT count(*) FROM (SELECT h, event_type FROM got GROUP BY ALL HAVING count(*) > 1)) AS dup,
  (SELECT count(*) FROM expected e FULL OUTER JOIN got g USING (h, event_type)
   WHERE e.cnt IS DISTINCT FROM g.cnt
      OR e.sv IS NULL OR g.sv IS NULL
      OR abs(e.sv - g.sv) > 1e-9 * greatest(1.0, abs(e.sv))) AS differ
"""


def check_stream(work):
    facts = _facts(work)
    files = sorted(glob.glob(os.path.join(facts["files"], "*.parquet")))
    sink = glob.glob(os.path.join(facts["sink"], "**", "*.parquet"), recursive=True)
    wm_us = int(facts["watermark_ms"]) * 1000
    if not sink or wm_us <= 0:
        return [f"no sink rows ({len(sink)} files) or no watermark ({wm_us})"]
    exp_n, got_n, dup, differ = duckdb.connect().execute(
        STREAM_SQL, [files, wm_us, sink]).fetchone()
    problems = []
    if exp_n == 0:
        problems.append("the final watermark closed no window")
    if dup:
        problems.append(f"{dup} (window, event_type) pairs delivered more than once")
    if differ:
        problems.append(f"{differ} of {exp_n} expected windows differ or are missing "
                        f"({got_n} delivered)")
    return problems


CHECKS = {"serve": check_serve, "sweep": check_sweep,
          "catalog": check_catalog, "stream": check_stream}


def main(argv):
    if len(argv) not in (2, 3) or argv[1] not in CHECKS:
        print(__doc__, file=sys.stderr)
        return 2
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    work = argv[2] if len(argv) == 3 else os.path.join(
        root, ".bench_build", "perfbench", "work", argv[1])
    problems = CHECKS[argv[1]](work)
    for p in problems:
        print(f"FAIL {p}")
    print(f"{argv[1]}: {'FAIL' if problems else 'PASS'}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
