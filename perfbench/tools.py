#!/usr/bin/env python3
"""Helpers around run.py, from the repository root:

  python3 perfbench/tools.py spread  --workload W [--seeds 1-10] [--seconds 5]
      Runs W once per seed (untraced) and prints, per end-to-end metric, the
      median and the quartile spread (Q3 - Q1) / median, as
      statistics.quantiles(values, n=4) gives the quartiles.

  python3 perfbench/tools.py repeat  --workload W [--seed 1] [--seconds 5]
      Runs W twice, traced, with the same seed and compares the counts that
      must repeat exactly (spark.jobs, table.files_added, table.bytes_written,
      write_amp, space_amp, per-round commit counters). Any difference is
      printed as a nondeterminism finding.

  python3 perfbench/tools.py record  --workload W --seed S [--seconds 5]
      Runs W untraced and traced with seed S and writes
      perfbench/results/W-seedS.json: both detail reports, the tracing
      overhead (traced round wall / untraced round wall - 1) and the
      self time per span.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

REPEAT_COUNTS = ("table.files_added", "table.files_candidate",
                 "table.files_kept", "table.units_rewritten",
                 "table.commits", "cdc.rows_in", "cdc.rows_applied",
                 "text.lsh_pairs", "sim.flagged", "sources.files_scanned",
                 "sources.bytes_scanned", "ivm.feed_rows")


def one(workload, seed, seconds, trace):
    got, rc = run.run(workload, seed, seconds, trace)
    if got is None:
        raise SystemExit(f"{workload} seed {seed}: run failed ({rc})")
    raw, stamp = got
    detail, result = run.report(raw, stamp, trace)
    if not result["correct"]:
        raise SystemExit(f"{workload} seed {seed}: correctness failed: "
                         f"{detail['checks']} {detail['errors']}")
    return raw, detail, result


def seeds_arg(s):
    if "-" in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in s.split(",")]


def spread(a):
    vals = {}
    for seed in seeds_arg(a.seeds):
        _, det, res = one(a.workload, seed, a.seconds, 0)
        for k, v in res["metrics"].items():
            vals.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()) +
            f" (cpu_steal_frac={det['stamp']['cpu_steal_frac']})", flush=True)
    print(f"\n{a.workload}: metric median spread (n={len(seeds_arg(a.seeds))})")
    for k, xs in vals.items():
        q = statistics.quantiles(xs, n=4)
        m = statistics.median(xs)
        print(f"  {k:20s} {m:12.5g} {(q[2] - q[0]) / m:8.4f}")


def repeat(a):
    runs = [one(a.workload, a.seed, a.seconds, 1) for _ in range(2)]
    findings = []
    n = min(len(r[0]["rounds"]) for r in runs)
    for i in range(n):
        c0, c1 = (r[0]["rounds"][i]["counts"] for r in runs)
        for k in sorted(set(c0) | set(c1)):
            if (k in REPEAT_COUNTS or k.startswith("commits:")) and \
                    c0.get(k) != c1.get(k):
                findings.append(f"round {i} {k}: {c0.get(k)} != {c1.get(k)}")
        b0, b1 = (r[0]["rounds"][i]["bytes_written"] for r in runs)
        if b0 != b1:
            findings.append(f"round {i} table.bytes_written: {b0} != {b1}")
    l0, l1 = (r[1]["per_layer"] for r in runs)
    if l0["spark.jobs"] != l1["spark.jobs"]:
        findings.append(f"spark.jobs: {l0['spark.jobs']} != {l1['spark.jobs']}")
    for k in ("write_amp", "space_amp"):
        v0, v1 = (r[1]["end_to_end"][k] for r in runs)
        if v0 != v1:
            findings.append(f"{k}: {v0} != {v1}")
    print(f"{a.workload} seed {a.seed}: {n} round(s) compared")
    for f in findings:
        print("  nondeterminism finding:", f)
    if not findings:
        print("  all counts repeat exactly")
    return findings


def record(a):
    _, d0, r0 = one(a.workload, a.seed, a.seconds, 0)
    _, d1, r1 = one(a.workload, a.seed, a.seconds, 1)
    off = statistics.median(d0["round_wall_s"])
    on = statistics.median(d1["round_wall_s"])
    out = {
        "workload": a.workload, "seed": a.seed,
        "tracing_overhead_frac": on / off - 1.0,
        "untraced": {"result": r0, "detail": d0},
        "traced": {"result": r1, "detail": d1},
    }
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    path = os.path.join(HERE, "results", f"{a.workload}-seed{a.seed}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"wrote {os.path.relpath(path)}: overhead {out['tracing_overhead_frac']:+.3f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("cmd", choices=("spread", "repeat", "record"))
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=5)
    a = ap.parse_args()
    {"spread": spread, "repeat": repeat, "record": record}[a.cmd](a)


if __name__ == "__main__":
    main()
