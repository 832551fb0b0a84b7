#!/usr/bin/env python3
"""Spark jobs, wall time and files written per request template in a
traced perfbench run.

A `perfbench/run.py ... --trace 1` run leaves its request log
(`out/results.jsonl`) and its trace (`out/trace.json`) in a run
directory under `perfbench/.runs/`. The trace attributes every Spark
job to a span, and every span to a request. This script counts the jobs
of each traced request and prints, per template, the number of traced
requests, the min / mean / max jobs per request, the mean wall ms and,
where the run samples it (`mutate`), the mean files written.

    scripts/jobs_by_template.py perfbench/.runs/mutate-s7001-t1-1234
    scripts/jobs_by_template.py --diff parent_run change_run

With --diff it prints both runs side by side, one template a line, and
exits 1 when any template's min or max jobs differs (wall ms and files
are shown, not compared).
"""
import json
import os
import sys
from collections import defaultdict


def per_template(run_dir):
    """{template: [(jobs, wall ms, files written or None) of each traced
    request]}."""
    out = os.path.join(run_dir, "out")
    with open(os.path.join(out, "trace.json")) as f:
        trace = json.load(f)
    req_of_span = {s["id"]: s["req"] for s in trace["spans"]}
    jobs = defaultdict(int)
    for j in trace["jobs"]:
        if j["span"] in req_of_span:
            jobs[req_of_span[j["span"]]] += 1
    reqs = defaultdict(list)
    with open(os.path.join(out, "results.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            if r["phase"] == "traced":
                reqs[r["tpl"]].append((jobs[r["i"]],
                                       (r["end"] - r["start"]) / 1e6,
                                       (r.get("sample") or {}).get("files_written")))
    return reqs


def mean(xs):
    return sum(xs) / len(xs)


def summary(rs):
    """(min jobs, mean jobs, max jobs, mean wall ms, mean files or None)."""
    js = [r[0] for r in rs]
    files = [r[2] for r in rs if r[2] is not None]
    return (min(js), mean(js), max(js), mean([r[1] for r in rs]),
            mean(files) if files else None)


def fmt(s):
    if s is None:
        return "%-16s %9s %6s" % ("-", "-", "-")
    return "%-16s %9.1f %6s" % ("%d/%.2f/%d" % s[:3], s[3],
                               "-" if s[4] is None else "%.1f" % s[4])


def main(argv):
    if len(argv) == 3 and argv[0] == "--diff":
        a, b = per_template(argv[1]), per_template(argv[2])
        differ = False
        print("%-16s %-16s %9s %6s   %-16s %9s %6s" % (
            "template", "jobs", "wall_ms", "files", "jobs", "wall_ms", "files"))
        for t in sorted(set(a) | set(b)):
            sa = summary(a[t]) if a.get(t) else None
            sb = summary(b[t]) if b.get(t) else None
            same = sa and sb and (sa[0], sa[2]) == (sb[0], sb[2])
            differ |= not same
            print("%-16s %s   %s %s" % (t, fmt(sa), fmt(sb),
                                        "" if same else "DIFFERS"))
        return 1 if differ else 0
    if len(argv) == 1:
        print("%-16s %-6s %-16s %9s %6s" % ("template", "n", "jobs", "wall_ms", "files"))
        for t, rs in sorted(per_template(argv[0]).items()):
            print("%-16s %-6d %s" % (t, len(rs), fmt(summary(rs))))
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
