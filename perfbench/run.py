#!/usr/bin/env python3
"""Closed-loop lake benchmark for graft: one client, seeded workloads.

Usage, from the repository root:

    python3 perfbench/run.py --workload <cdc_ingest|train_data>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness (perfbench/build.py), runs one JVM with
Spark at local[nproc], and prints two JSON lines on stdout: a detail
report (every metric by name, the run's self-description, the correctness
checks) and, last, the result line
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics; with --trace 1 the per-layer metrics.

Exits non-zero when the build or the run fails, or when any correctness
check fails. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build as builder  # noqa: E402

WORKLOADS = ("cdc_ingest", "train_data")
XMX = "2g"
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 880

END_TO_END = [
    ("setup_s", "s"), ("commit_p50_s", "s"), ("commit_tail_s", "s"),
    ("fresh_p50_s", "s"), ("fresh_tail_s", "s"), ("read_p50_s", "s"),
    ("read_tail_s", "s"), ("ingest_rows_per_s", "rows/s"),
    ("final_build_s", "s"), ("write_amp", "ratio"), ("space_amp", "ratio"),
    ("peak_rss_mb", "MB"),
]

# per-layer metric -> (unit, how it is computed; see per_layer())
SPAN_S = {
    "cdc.run_cow_s": "cdc.run_cow", "cdc.run_mor_s": "cdc.run_mor",
    "table.lookup_s": "table.lookup", "table.changes_s": "table.changes",
    "table.realtime_s": "table.realtime", "table.upsert_s": "table.upsert",
    "table.delete_s": "table.delete", "sources.plan_s": "sources.plan",
    "sources.exec_s": "sources.exec",
    "ivm.join_refresh_s": "ivm.join_refresh",
    "ivm.agg_refresh_s": "ivm.agg_refresh",
    "streaming.apply_s": "streaming.apply",
    "streaming.replay_skip_s": "streaming.replay_skip",
    "text.lsh_ingest_s": "text.lsh_ingest",
    "text.bm25_ingest_s": "text.bm25_ingest",
    "text.bm25_query_s": "text.bm25_query",
    "sim.ann_check_s": "sim.ann_check", "sim.ann_ingest_s": "sim.ann_ingest",
    "sim.ann_search_s": "sim.ann_search",
}
PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.job_wall_s", "s"),
    ("spark.driver_only_s", "s"), ("spark.exec_run_s", "s"),
    ("spark.exec_cpu_s", "s"), ("spark.slot_util", "ratio"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.input_mb", "MB"),
    ("spark.output_mb", "MB"), ("spark.gc_s", "s"),
    ("spark.tasks_failed", "count"),
    ("cdc.run_cow_s", "s"), ("cdc.run_mor_s", "s"),
    ("cdc.commits_per_run", "count"), ("cdc.rows_in", "rows"),
    ("cdc.rows_applied", "rows"),
    ("table.files_candidate", "count"), ("table.files_kept", "count"),
    ("table.files_added", "count"), ("table.units_rewritten", "count"),
    ("table.rewrite_frac", "ratio"), ("table.bytes_written", "bytes"),
    ("table.live_files", "count"), ("table.dir_bytes", "bytes"),
    ("table.log_files_live", "count"), ("table.compactions", "count"),
    ("table.lookup_s", "s"), ("table.changes_s", "s"),
    ("table.realtime_s", "s"), ("table.upsert_s", "s"),
    ("table.delete_s", "s"), ("table.manifest_bytes", "bytes"),
    ("table.rebased_over", "count"),
    ("sources.plan_s", "s"), ("sources.exec_s", "s"),
    ("sources.files_scanned", "count"), ("sources.bytes_scanned", "bytes"),
    ("sources.mv_hits", "ratio"),
    ("ivm.join_refresh_s", "s"), ("ivm.agg_refresh_s", "s"),
    ("ivm.jobs_per_refresh", "count"),
    ("ivm.state_commits_per_refresh", "count"), ("ivm.feed_rows", "rows"),
    ("streaming.apply_s", "s"), ("streaming.replay_skip_s", "s"),
    ("text.lsh_ingest_s", "s"), ("text.lsh_pairs", "count"),
    ("text.bm25_ingest_s", "s"), ("text.bm25_query_s", "s"),
    ("sim.ann_check_s", "s"), ("sim.ann_ingest_s", "s"),
    ("sim.ann_search_s", "s"), ("sim.flag_frac", "ratio"),
    ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
    ("trace.round_s", "s"), ("trace.glue_frac", "ratio"),
    ("trace.accounted_frac", "ratio"),
    ("trace.jobs_unattributed", "count"),
]

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def med(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least 10 samples beyond it (never below
    the median): (value, percentile, samples)."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(xs)
    k = max(n - 11, n // 2)  # 0-based rank; n-11 leaves 10 above
    return s[k], round(100.0 * (k + 1) / n, 1), n


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (user ... steal), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_frac(before, after):
    """Share of CPU time the hypervisor gave to others between two
    cpu_times() readings: host contention a run cannot control."""
    if not before or not after:
        return None
    d = [b - a for a, b in zip(before, after)]
    return round(d[7] / sum(d), 4) if sum(d) else None


def git_rev(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- metrics

def end_to_end(raw):
    rounds = raw["rounds"]
    commit = [x for r in rounds for x in r["commit_s"]]
    fresh = [x for r in rounds for x in r["fresh_s"]]
    read = [x for r in rounds for x in r["read_s"]]
    out, tails = {}, {}
    for name, xs in (("commit", commit), ("fresh", fresh), ("read", read)):
        out[f"{name}_p50_s"] = med(xs)
        v, p, n = tail(xs)
        out[f"{name}_tail_s"] = v
        tails[f"{name}_tail_s"] = {"percentile": p, "samples": n}
    st = raw["setup"]
    out["setup_s"] = (st["session_s"] + st["generate_s"] + st["lake_s"]
                      + st["warmup_s"])
    wall = sum(r["wall_s"] for r in rounds)
    out["ingest_rows_per_s"] = sum(r["rows_in"] for r in rounds) / wall
    out["final_build_s"] = med(raw["final_build_s"])
    inb = sum(r["input_bytes"] for r in rounds)
    out["write_amp"] = sum(r["bytes_written"] for r in rounds) / inb
    sp = raw["space"]
    out["space_amp"] = sp["dir_bytes"] / sp["live_bytes"]
    out["peak_rss_mb"] = raw["jvm"]["vm_hwm_mb"]
    return out, tails


def union_len(iv):
    tot, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                tot += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        tot += cur_e - cur_s
    return tot


def attribute(spans, jobs, slack_ms=2.0):
    """Map each job to a span: the span its job group names when the job
    started inside it, else the innermost span open at the job's start
    (the benchmark's calls are nested on the JVM's main thread). Returns the
    number of jobs no span covers."""
    by_id = {s["id"]: s for s in spans}
    lost = 0
    for j in jobs:
        t = j["start_ms"]
        sid = None
        g = j.get("group", "")
        if g.startswith("pb-"):
            s = by_id.get(int(g[3:]))
            if s and s["start_ms"] - slack_ms <= t <= s["end_ms"] + slack_ms:
                sid = s["id"]
        if sid is None:
            inside = [s for s in spans
                      if s["start_ms"] - slack_ms <= t <= s["end_ms"] + slack_ms]
            if inside:
                sid = max(inside, key=lambda s: s["start_ms"])["id"]
        j["span"] = sid
        lost += sid is None
    return lost


def self_times(spans):
    """Span id -> self seconds: duration minus the union of its children."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]
                      - union_len(kids.get(s["id"], []))) / 1e3
            for s in spans}


def per_layer(raw, cores):
    spans, jobs, rounds = raw["spans"], raw["jobs"], raw["rounds"]
    lost = attribute(spans, jobs)
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    roots = {s["round"]: s for s in spans if s["name"] == "round"}
    jobs_by_round = defaultdict(list)
    for j in jobs:
        if j["span"] is not None:
            jobs_by_round[by_id[j["span"]]["round"]].append(j)

    out = {}
    # spark listener, per traced round
    per = defaultdict(list)
    acc = []
    glue = []
    for rid, root in roots.items():
        js = jobs_by_round.get(rid, [])
        wall = (root["end_ms"] - root["start_ms"]) / 1e3
        jw = union_len([(j["start_ms"], j["end_ms"]) for j in js]) / 1e3
        per["jobs"].append(len(js))
        per["stages"].append(sum(j["stages"] for j in js))
        per["tasks"].append(sum(j["tasks"] for j in js))
        per["job_wall_s"].append(jw)
        per["driver_only_s"].append(wall - jw)
        per["exec_run_s"].append(sum(j["run_ms"] for j in js) / 1e3)
        per["exec_cpu_s"].append(sum(j["cpu_ns"] for j in js) / 1e9)
        for k in ("shuffle_write", "shuffle_read", "spill", "input", "output"):
            per[k + "_mb"].append(sum(j[k] for j in js) / 1048576.0)
        per["gc_s"].append(sum(j["gc_ms"] for j in js) / 1e3)
        in_round = [s["id"] for s in spans if s["round"] == rid]
        acc.append(sum(selfs[i] for i in in_round) / wall)
        glue.append(selfs[root["id"]] / wall)
    for k, xs in per.items():
        out[f"spark.{k}"] = med(xs)
    run_tot = sum(per["exec_run_s"])
    jw_tot = sum(per["job_wall_s"])
    out["spark.slot_util"] = run_tot / (jw_tot * cores) if jw_tot else 0.0
    out["spark.tasks_failed"] = sum(j["tasks_failed"] for j in jobs)

    # span timings: median duration per call
    durs = defaultdict(list)
    for s in spans:
        durs[s["name"]].append((s["end_ms"] - s["start_ms"]) / 1e3)
    for metric, name in SPAN_S.items():
        out[metric] = med(durs.get(name, []))

    # counters read from outside the engine, every round of the run
    def tot(k):
        return sum(r["counts"].get(k, 0.0) for r in rounds)

    def per_round(k):
        return med([r["counts"].get(k, 0.0) for r in rounds])

    cdc_runs = len(durs.get("cdc.run_cow", [])) + len(durs.get("cdc.run_mor", []))
    out["cdc.commits_per_run"] = (tot("table.commits") / cdc_runs
                                  if cdc_runs else 0.0)
    out["cdc.rows_in"] = per_round("cdc.rows_in")
    out["cdc.rows_applied"] = per_round("cdc.rows_applied")
    for k in ("files_candidate", "files_kept", "files_added",
              "units_rewritten", "manifest_bytes", "rebased_over"):
        out[f"table.{k}"] = per_round(f"table.{k}")
    cand = tot("table.files_candidate")
    out["table.rewrite_frac"] = (
        (cand - tot("table.files_kept")) / cand if cand else 0.0)
    out["table.bytes_written"] = med([r["bytes_written"] for r in rounds])
    last = rounds[-1]["counts"]
    for k in ("live_files", "dir_bytes", "log_files_live"):
        out[f"table.{k}"] = last.get(f"table.{k}", 0.0)
    out["table.compactions"] = tot("table.compactions")

    reads = tot("sources.reads")
    out["sources.files_scanned"] = tot("sources.files_scanned") / reads if reads else 0.0
    out["sources.bytes_scanned"] = tot("sources.bytes_scanned") / reads if reads else 0.0
    out["sources.mv_hits"] = tot("sources.mv_hits") / reads if reads else 0.0

    refresh = {s["id"] for s in spans
               if s["name"] in ("ivm.join_refresh", "ivm.agg_refresh")}
    rjobs = sum(1 for j in jobs if j["span"] in refresh)
    out["ivm.jobs_per_refresh"] = rjobs / len(refresh) if refresh else 0.0
    nref = 2 * len(rounds) if refresh else 0
    out["ivm.state_commits_per_refresh"] = (
        (tot("commits:doc_src") + tot("commits:tier_agg")) / nref
        if nref else 0.0)
    out["ivm.feed_rows"] = per_round("ivm.feed_rows")
    out["text.lsh_pairs"] = per_round("text.lsh_pairs")
    inj = tot("sim.injected")
    out["sim.flag_frac"] = tot("sim.flagged") / inj if inj else 0.0

    out["jvm.gc_s"] = raw["jvm"]["gc_s"]
    out["jvm.heap_peak_mb"] = raw["jvm"]["heap_peak_mb"]
    out["trace.round_s"] = med([r["wall_s"] for r in rounds])
    out["trace.glue_frac"] = med(glue)
    out["trace.accounted_frac"] = med(acc)
    out["trace.jobs_unattributed"] = lost

    # self time per span name, seconds per traced round (for the report)
    by_name = defaultdict(float)
    for s in spans:
        by_name[s["name"]] += selfs[s["id"]]
    nr = max(len(roots), 1)
    self_s = {k: v / nr for k, v in sorted(by_name.items())}
    return out, self_s


# ------------------------------------------------------------------- run

def run(workload, seed, seconds, trace):
    root = os.getcwd()
    t0 = time.time()
    load_before, cpu_before = loadavg(), cpu_times()
    try:
        classes, build_s = builder.build(root)
    except SystemExit as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return None, 2
    limit = (BUILD_RUN_LIMIT_S if build_s else RUN_LIMIT_S) - (time.time() - t0)
    cores = len(os.sched_getaffinity(0))
    bdir = os.path.join(root, builder.BUILD_DIR)
    work = os.path.join(bdir, "work", f"{workload}-{seed}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "raw.json")
    log = os.path.join(work, "jvm.log")
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cp = classes + os.pathsep + os.path.join(builder.jars_dir(root), "*")
    # ParallelGC: its heap grows in the same steps run after run, so peak
    # RSS repeats (under G1 it spread 0.14 across ten seeds, 0.02 here)
    cmd = (["java", f"-Xmx{XMX}", "-XX:+UseParallelGC"] + opens +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--out", out, "--cores", str(cores)])
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(limit, 10))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            print("perfbench: run exceeded its time limit", file=sys.stderr)
            return None, 3
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        print(f"perfbench: JVM exited with {rc}", file=sys.stderr)
        return None, 1
    with open(out) as fh:
        raw = json.load(fh)
    stamp = {
        "nproc": cores, "master": raw["master"], "xmx": XMX,
        "xmx_mb": raw["xmx_mb"], "spark": raw["spark_version"],
        "git_rev": git_rev(root), "src_stamp": open(
            os.path.join(bdir, "classes.stamp")).read()[:16],
        "build_s": round(build_s, 1),
        "loadavg_before": load_before, "loadavg_after": loadavg(),
        "cpu_steal_frac": steal_frac(cpu_before, cpu_times()),
        "seed": seed, "traced": bool(trace), "seconds": seconds,
        "data": "generated from the seed by perfbench/src (no external data)",
        "data_dir": os.path.relpath(os.path.join(work, "input"), root),
        "run_wall_s": round(time.time() - t0, 1),
    }
    # keep the raw file beside the detail report, drop the lake
    res_dir = os.path.join(bdir, "results")
    os.makedirs(res_dir, exist_ok=True)
    tag = f"{workload}-seed{seed}-trace{trace}"
    shutil.copyfile(out, os.path.join(res_dir, tag + ".raw.json"))
    shutil.copyfile(log, os.path.join(res_dir, tag + ".jvm.log"))
    shutil.rmtree(work, ignore_errors=True)
    return (raw, stamp), 0


def report(raw, stamp, trace):
    rounds = raw["rounds"]
    attempted = sum(r["attempted"] for r in rounds) + len(raw["checks"])
    failed = (sum(r["failed"] for r in rounds) +
              sum(1 for c in raw["checks"] if not c["ok"]))
    correct = failed == 0
    e2e, tails = end_to_end(raw)
    detail = {
        "workload": raw["workload"], "stamp": stamp,
        "rounds": len(rounds), "timed_wall_s": raw["timed_wall_s"],
        "round_wall_s": [r["wall_s"] for r in rounds],
        "final_build_reps_s": raw["final_build_s"], "post_s": raw["post_s"],
        "setup": raw["setup"], "tails": tails,
        "end_to_end": dict(e2e, error_rate=failed / attempted),
        "checks": raw["checks"],
        "errors": [e for r in rounds for e in r["errors"]][:20],
        "extra": raw["extra"],
        "counts": [dict(r["counts"], round=r["id"], traced=r["traced"],
                        bytes_written=r["bytes_written"])
                   for r in rounds],
    }
    if raw["workload"] == "train_data":
        detail["end_to_end"]["trainset_s"] = e2e["final_build_s"]
    if trace:
        layer, self_s = per_layer(raw, stamp["nproc"])
        detail["per_layer"] = layer
        detail["self_s_per_round"] = self_s
        metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return detail, result


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    got, rc = run(a.workload, a.seed, a.seconds, a.trace)
    if got is None:
        return rc
    raw, stamp = got
    detail, result = report(raw, stamp, a.trace)
    res = os.path.join(builder.BUILD_DIR, "results",
                       f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(res, "w") as fh:
        json.dump(detail, fh, indent=1)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
