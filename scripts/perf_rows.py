#!/usr/bin/env python3
"""Per-row table of one perfbench result file.

Usage: python3 scripts/perf_rows.py <result.json> [more result.json ...]

Reads a result file written by `perfbench/run.py` (under
.bench_build/perfbench/results/) and, when present, the `.spans.jsonl`
next to it (written by a `--trace 1` run). Prints one line per bench row,
slowest first: calls, median latency, median build time (the part of the
call spent inside the query function, before the result is executed),
and the median number of Spark jobs per traced call that started during
build and during execution. Job columns read `-` when the run was not
traced. Reads files only.
"""
import collections
import json
import os
import statistics
import sys


def spans_path(result_path):
    base = result_path[:-len(".json")] if result_path.endswith(".json") else result_path
    return base + ".spans.jsonl"


def job_counts(path):
    """call id -> (jobs at build, jobs at exec), from the job spans."""
    counts = collections.defaultdict(lambda: [0, 0])
    with open(path) as f:
        for line in f:
            sp = json.loads(line)
            if sp["kind"] != "job":
                continue
            if sp["parent"].startswith("build-"):
                counts[sp["call"]][0] += 1
            elif sp["parent"].startswith("exec-"):
                counts[sp["call"]][1] += 1
    return counts


def median_or_dash(xs, fmt):
    return fmt.format(statistics.median(xs)) if xs else "-"


def table(result_path):
    with open(result_path) as f:
        res = json.load(f)
    sp = spans_path(result_path)
    jobs = job_counts(sp) if os.path.exists(sp) else {}
    rows = collections.OrderedDict()
    for c in res["calls"]:
        r = rows.setdefault(c["query"], {"layer": c["layer"], "lat": [], "build": [],
                                         "jb": [], "je": [], "failed": 0})
        if not c["ok"]:
            r["failed"] += 1
            continue
        r["lat"].append(c["latency_s"])
        r["build"].append(c["build_s"])
        if c["traced"] and jobs:
            jb, je = jobs.get(c["id"], (0, 0))
            r["jb"].append(jb)
            r["je"].append(je)
    env = res.get("env", {})
    print(f"# {result_path}")
    print(f"# commit {env.get('commit', '?')}, {env.get('master', '?')}, {env.get('sf_dir', '?')}, "
          f"{res['attempted']} calls, {res['failed']} failed")
    print(f"{'row':<28} {'layer':<14} {'calls':>5} {'latency_s':>10} {'build_s':>8} "
          f"{'jobs_build':>10} {'jobs_exec':>9}")
    order = sorted(rows.items(),
                   key=lambda kv: -statistics.median(kv[1]["lat"]) if kv[1]["lat"] else 0)
    for name, r in order:
        calls = len(r["lat"]) + r["failed"]
        print(f"{name:<28} {r['layer']:<14} {calls:>5} "
              f"{median_or_dash(r['lat'], '{:.3f}'):>10} {median_or_dash(r['build'], '{:.3f}'):>8} "
              f"{median_or_dash(r['jb'], '{:g}'):>10} {median_or_dash(r['je'], '{:g}'):>9}"
              + (f"  ({r['failed']} failed)" if r["failed"] else ""))


def main():
    if len(sys.argv) < 2:
        print(__doc__.strip(), file=sys.stderr)
        sys.exit(2)
    for i, path in enumerate(sys.argv[1:]):
        if i:
            print()
        table(path)


if __name__ == "__main__":
    main()
