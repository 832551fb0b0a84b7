"""Metric arithmetic: percentiles with their sample-count rule, the
end-to-end latency and throughput figures, span self times and the
per-layer totals of a traced run."""
import math
import statistics

CLASSES = ("light", "heavy")
LAYER_METRICS = (
    "nql.parse_ms", "nql.exec_ms",
    "catalyst.analysis_ms", "catalyst.optimizer_ms", "catalyst.planning_ms",
    "spark.jobs", "spark.in_job_s", "spark.outside_job_frac",
    "spark.task_cpu_s", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.input_bytes",
    "ckpt.rdds", "ckpt.cached_bytes",
    "operators.write_amp", "operators.files_written",
    "jvm.gc_s",
    "self.nql_parse_ms", "self.nql_exec_ms", "self.graph_ms", "self.algo_ms",
    "self.unaccounted_ms",
    "samples",
)
WORKLOAD_METRICS = (
    "sources.store_build_s", "sources.store_bytes_per_input_byte",
    "operators.space_amp", "jvm.heap_peak_mb", "trace.overhead_frac",
)


def percentile(values, q, min_beyond=10):
    """The q-quantile (0 < q < 1, nearest rank) of `values`, or None when
    fewer than `min_beyond` samples lie beyond it: a p90 needs 100
    samples, a p50 needs 20."""
    n = len(values)
    if n == 0 or round(n * (1 - q), 9) < min_beyond:
        return None
    s = sorted(values)
    return s[min(n - 1, max(0, math.ceil(q * n) - 1))]


def class_latency_ms(recs, cls):
    """Geometric mean over the class's templates of each template's
    median latency: a run's template mix does not move the figure, and
    each template weighs the same whatever its size."""
    by_tpl = {}
    for r in recs:
        if r["cls"] == cls:
            by_tpl.setdefault(r["tpl"], []).append((r["end"] - r["start"]) / 1e6)
    if not by_tpl:
        return None
    return statistics.geometric_mean(statistics.median(v) for v in by_tpl.values())


def union_ns(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def ops_per_s(recs):
    """Operations per second of time with at least one in flight."""
    busy = union_ns([(r["start"], r["end"]) for r in recs])
    return len(recs) / (busy / 1e9) if busy > 0 else None


def self_times(spans):
    """span id -> its duration minus the time its child spans cover
    (children clipped to the parent's interval)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = union_ns([(max(c["start"], s["start"]), min(c["end"], s["end"]))
                          for c in kids.get(s["id"], [])
                          if c["end"] > s["start"] and c["start"] < s["end"]])
        out[s["id"]] = (s["end"] - s["start"]) - cover
    return out


def layer_totals(recs, trace, user_bytes):
    """Per request (traced phase): {metric: value} before averaging.
    `user_bytes` maps a request index to its user-row bytes."""
    spans = trace["spans"]
    span_req = {s["id"]: s["req"] for s in spans}
    selfs = self_times(spans)
    per = {r["i"]: {m: 0.0 for m in LAYER_METRICS} for r in recs}
    jobs_of = {}
    for j in trace["jobs"]:
        req = span_req.get(j["span"])
        if req in per:
            jobs_of.setdefault(req, []).append(j)
    exec_req = {}
    for j in trace["jobs"]:
        req = span_req.get(j["span"])
        if req in per and j["exec"] >= 0:
            exec_req[j["exec"]] = req
    for ex, tags in trace["exec_tags"].items():
        for t in tags.split(","):
            if t.startswith("graftbench-req-"):
                exec_req.setdefault(int(ex), int(t[len("graftbench-req-"):]))
    qe_exec = {int(k): v for k, v in trace.get("qe_exec", {}).items()}
    for q in trace["qes"]:
        req = exec_req.get(qe_exec.get(q["qe"]))
        if req in per:
            per[req]["catalyst.analysis_ms"] += q["analysis_ms"]
            per[req]["catalyst.optimizer_ms"] += q["optimizer_ms"]
            per[req]["catalyst.planning_ms"] += q["planning_ms"]
    dur = {}
    for s in spans:
        if s["req"] in per:
            d = per[s["req"]]
            ms = selfs[s["id"]] / 1e6
            key = {"nql.parse": "self.nql_parse_ms", "nql.exec": "self.nql_exec_ms",
                   "graph": "self.graph_ms", "algo": "self.algo_ms",
                   "request": "self.unaccounted_ms"}.get(s["name"])
            if key:
                d[key] += ms
            dur[(s["req"], s["name"])] = (s["end"] - s["start"]) / 1e6
    for r in recs:
        d, i = per[r["i"]], r["i"]
        parse = dur.get((i, "nql.parse"), 0.0)
        d["nql.parse_ms"] = parse
        d["nql.exec_ms"] = max(0.0, dur.get((i, "nql.exec"), 0.0) - parse)
        js = jobs_of.get(i, [])
        d["spark.jobs"] = len(js)
        in_job = union_ns([(max(j["start_ms"] * 1e6, r["start"]),
                            min(j["end_ms"] * 1e6, r["end"]))
                           for j in js if j["end_ms"] >= 0])
        d["spark.in_job_s"] = in_job / 1e9
        d["_wall_s"] = (r["end"] - r["start"]) / 1e9
        d["spark.task_cpu_s"] = sum(j["cpu_ns"] for j in js) / 1e9
        d["spark.shuffle_write_bytes"] = sum(j["shuffle_write"] for j in js)
        d["spark.shuffle_read_bytes"] = sum(j["shuffle_read"] for j in js)
        d["spark.spill_bytes"] = sum(j["spill"] for j in js)
        d["spark.input_bytes"] = sum(j["input"] for j in js)
        d["_output_bytes"] = sum(j["output"] for j in js)
        d["_user_bytes"] = user_bytes.get(i, 0)
        smp = r.get("sample") or {}
        d["ckpt.rdds"] = smp.get("ckpt_rdds", 0.0)
        d["ckpt.cached_bytes"] = smp.get("ckpt_cached_bytes", 0.0)
        d["operators.files_written"] = smp.get("files_written", 0.0)
        d["jvm.gc_s"] = smp.get("gc_ms", 0.0) / 1e3
    return per


def per_layer(recs, trace, user_bytes):
    """`<class>.<metric>` means over each class's traced requests."""
    per = layer_totals(recs, trace, user_bytes)
    out = {}
    for cls in CLASSES:
        rows = [per[r["i"]] for r in recs if r["cls"] == cls]
        for m in LAYER_METRICS:
            vals = [d[m] for d in rows]
            out[f"{cls}.{m}"] = statistics.fmean(vals) if vals else 0.0
        wall = sum(d["_wall_s"] for d in rows)
        out[f"{cls}.spark.outside_job_frac"] = (
            1.0 - sum(d["spark.in_job_s"] for d in rows) / wall if wall else 0.0)
        ub = sum(d["_user_bytes"] for d in rows)
        out[f"{cls}.operators.write_amp"] = (
            sum(d["_output_bytes"] for d in rows) / ub if ub else 0.0)
        out[f"{cls}.samples"] = float(len(rows))
    return out
