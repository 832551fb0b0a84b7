#!/usr/bin/env python3
"""Spark jobs per request template in a traced perfbench run.

A `perfbench/run.py ... --trace 1` run leaves its request log
(`out/results.jsonl`) and its trace (`out/trace.json`) in a run
directory under `perfbench/.runs/`. The trace attributes every Spark
job to a span, and every span to a request. This script counts the jobs
of each traced request and prints, per template, the number of traced
requests and the min / mean / max jobs per request.

    scripts/jobs_by_template.py perfbench/.runs/mutate-s7001-t1-1234
    scripts/jobs_by_template.py --diff parent_run change_run

With --diff it prints both runs' mean jobs side by side, one template a
line, and exits 1 when any template's min or max differs.
"""
import json
import os
import sys
from collections import defaultdict


def per_template(run_dir):
    """{template: [jobs of each traced request]}."""
    out = os.path.join(run_dir, "out")
    with open(os.path.join(out, "trace.json")) as f:
        trace = json.load(f)
    req_of_span = {s["id"]: s["req"] for s in trace["spans"]}
    jobs = defaultdict(int)
    for j in trace["jobs"]:
        if j["span"] in req_of_span:
            jobs[req_of_span[j["span"]]] += 1
    counts = defaultdict(list)
    with open(os.path.join(out, "results.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            if r["phase"] == "traced":
                counts[r["tpl"]].append(jobs[r["i"]])
    return counts


def summary(xs):
    return min(xs), sum(xs) / len(xs), max(xs)


def main(argv):
    if len(argv) == 3 and argv[0] == "--diff":
        a, b = per_template(argv[1]), per_template(argv[2])
        differ = False
        for t in sorted(set(a) | set(b)):
            sa = summary(a[t]) if a.get(t) else None
            sb = summary(b[t]) if b.get(t) else None
            same = sa and sb and (sa[0], sa[2]) == (sb[0], sb[2])
            differ |= not same
            fmt = lambda s: "-" if s is None else "%d/%.2f/%d" % s
            print("%-16s %-16s %-16s %s" % (t, fmt(sa), fmt(sb),
                                           "" if same else "DIFFERS"))
        return 1 if differ else 0
    if len(argv) == 1:
        for t, xs in sorted(per_template(argv[0]).items()):
            print("%-16s n=%-4d jobs min/mean/max %d/%.2f/%d"
                  % ((t, len(xs)) + summary(xs)))
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
