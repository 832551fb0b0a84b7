#!/usr/bin/env python3
"""Spark jobs, time inside jobs, wall time and files written per
request template in a traced perfbench run, computed with the
harness's own per-request metrics (`perfbench/harness/metrics.py`).

A `perfbench/run.py ... --trace 1` run leaves its request log
(`out/results.jsonl`) and its trace (`out/trace.json`) in a run
directory under `perfbench/.runs/`. The trace attributes every Spark
job to a span, and every span to a request. This script counts the jobs
of each traced request and prints, per template, the number of traced
requests, the min / mean / max jobs per request, the mean wall ms, the
mean ms inside the request's jobs (the union of their spans, so
overlapping jobs count once), the share of the template's wall time
outside any of its jobs and, where the run samples it (`mutate`), the
mean files written.

    scripts/jobs_by_template.py perfbench/.runs/mutate-s7001-t1-1234
    scripts/jobs_by_template.py --diff parent_run change_run

With --diff it prints both runs side by side, one template a line, and
exits 1 when any template's min or max jobs differs (wall ms, in-job
ms, outside share and files are shown, not compared).
"""
import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                os.pardir, "perfbench"))
from harness.metrics import layer_totals  # noqa: E402


def per_template(run_dir):
    """{template: [(jobs, wall ms, files written or None, ms inside
    jobs) of each traced request]}. Jobs, wall and in-job time are the
    harness's own per-request figures (`layer_totals`: job spans clipped
    to the request, unfinished jobs left out of the in-job time)."""
    out = os.path.join(run_dir, "out")
    with open(os.path.join(out, "trace.json")) as f:
        trace = json.load(f)
    with open(os.path.join(out, "results.jsonl")) as f:
        recs = [r for r in map(json.loads, f) if r["phase"] == "traced"]
    per = layer_totals(recs, trace, {})
    reqs = defaultdict(list)
    for r in recs:
        d = per[r["i"]]
        reqs[r["tpl"]].append((int(d["spark.jobs"]), d["_wall_s"] * 1e3,
                               (r.get("sample") or {}).get("files_written"),
                               d["spark.in_job_s"] * 1e3))
    return reqs


def mean(xs):
    return sum(xs) / len(xs)


def summary(rs):
    """(min jobs, mean jobs, max jobs, mean wall ms, mean files or None,
    mean in-job ms, share of wall outside jobs). The share is the
    harness's `outside_job_frac` over the template's requests: one minus
    their in-job time over their wall time."""
    js = [r[0] for r in rs]
    files = [r[2] for r in rs if r[2] is not None]
    wall = sum(r[1] for r in rs)
    outside = 1 - sum(r[3] for r in rs) / wall if wall else 0.0
    return (min(js), mean(js), max(js), mean([r[1] for r in rs]),
            mean(files) if files else None, mean([r[3] for r in rs]),
            outside)


COLS = "%-16s %9s %8s %5s %6s" % ("jobs", "wall_ms", "in_job", "out", "files")


def fmt(s):
    if s is None:
        return "%-16s %9s %8s %5s %6s" % ("-", "-", "-", "-", "-")
    return "%-16s %9.1f %8.1f %5.2f %6s" % (
        "%d/%.2f/%d" % s[:3], s[3], s[5], s[6],
        "-" if s[4] is None else "%.1f" % s[4])


def main(argv):
    if len(argv) == 3 and argv[0] == "--diff":
        a, b = per_template(argv[1]), per_template(argv[2])
        differ = False
        print("%-16s %s   %s" % ("template", COLS, COLS))
        for t in sorted(set(a) | set(b)):
            sa = summary(a[t]) if a.get(t) else None
            sb = summary(b[t]) if b.get(t) else None
            same = sa and sb and (sa[0], sa[2]) == (sb[0], sb[2])
            differ |= not same
            print("%-16s %s   %s %s" % (t, fmt(sa), fmt(sb),
                                        "" if same else "DIFFERS"))
        return 1 if differ else 0
    if len(argv) == 1:
        print("%-16s %-6s %s" % ("template", "n", COLS))
        for t, rs in sorted(per_template(argv[0]).items()):
            print("%-16s %-6d %s" % (t, len(rs), fmt(summary(rs))))
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
