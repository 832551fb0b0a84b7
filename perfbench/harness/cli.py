"""perfbench entry point: build, generate the seeded inputs, run one
workload in a fresh JVM, check every output and print the result line.

  python3 perfbench/run.py --workload interactive|mutate
      --seed N --seconds S --trace 0|1

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics (end-to-end metrics with
--trace 0, per-layer metrics with --trace 1). Each run's stream, raw
results and a summary that lists every failing request are kept under
perfbench/.runs/.
"""
import argparse
import json
import os
import shutil
import statistics
import sys
import time

from . import build, check, datagen, metrics, streams

WORKLOADS = ("interactive", "mutate")
SCALE = 0.005         # TPC-H scale of the generated tables
DATA_SEED = 42        # the tables are fixed; --seed draws the request stream
SETUPS = 3            # set-ups per run; setup_s is their median
CPUS = 4
JVM_HEAP = "3g"
JVM_BUDGET_S = 150    # the whole run must end within 180 s of a built tree
STREAM_LEN = {"interactive": 2000, "mutate": 1000}
CLIENTS = {"interactive": 2, "mutate": 1}
E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "light_ms": "ms", "heavy_ms": "ms"}
# java.base packages Spark needs opened when it runs outside spark-submit
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def _args(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return ap.parse_args(argv)


def _data():
    """The input tables, generated once per checkout."""
    d = os.path.join(build.BENCH, ".data", f"sf{SCALE}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.make(d, DATA_SEED, SCALE)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def _store_root(data):
    """The graph store the interactive set-ups attach to: one per build,
    so a source change never attaches to a store an older build wrote."""
    name = "store-" + build.built_digest()[:16]
    for old in os.listdir(data):
        if old.startswith("store-") and old != name:
            shutil.rmtree(os.path.join(data, old), ignore_errors=True)
    return os.path.join(data, name)


def _mutate_base(con):
    cust = {f"c:{k}": [nm, a, nk] for k, nm, a, nk in con.sql(
        "SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM customer").fetchall()}
    placed = {(f"c:{c}", f"o:{o}", 0): tp for c, o, tp in con.sql(
        "SELECT o_custkey, o_orderkey, o_totalprice FROM orders").fetchall()}
    return cust, placed


def _stream(workload, seed, n, base):
    count = STREAM_LEN[workload]
    if workload == "interactive":
        # no warm-up: the fixed block layout puts the same templates
        # first in every run, and each template's median discounts them
        return (streams.interactive_setup(), [], streams.interactive(seed, n, count))
    return (streams.mutate_setup(), streams.mutate_warmup(seed, n, base),
            streams.mutate(seed, n, count, base)[0])


def _unit(workload, trace):
    """The request count a window is rounded up to. A traced interactive
    run rounds its three windows to single blocks, so it stays short."""
    if workload == "mutate":
        return streams.MUTATE_BLOCK
    return streams.BLOCK if trace else streams.INTERACTIVE_UNIT


def _jvm(classpath, a, data, store, stream, out, work, log, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.BenchMain",
            "--workload", a.workload, "--data", data, "--store", store,
            "--stream", stream,
            "--out", out, "--work", work, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--setups", str(SETUPS), "--cpus", str(CPUS),
            "--block", str(_unit(a.workload, a.trace)),
            "--clients", str(CLIENTS[a.workload])]
    with open(log, "w") as f:
        rc = build.run_group(cmd, f, timeout=max(10.0, deadline - time.time()))
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: benchmark process failed (exit {rc})")


def _load_results(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _check(workload, seed, n, items, recs, oracles, con, base, out):
    """Failures as [(request index, phase, template, reason)]."""
    fails = []
    oracle = check.Oracle(con)
    by_i = {it["i"]: it for it in items}
    for r in recs:
        it = by_i[r["i"]]
        why = r["error"]
        if why is None and workload == "mutate":
            if it["cls"] == "light":
                why = check.compare(r["cols"], r["rows"], it["expect_cols"],
                                    it["expect"])
        elif why is None:
            _, name, _, subst = streams.TEMPLATES[it["tpl"]]
            try:
                sql = check.substitute(oracles[name], subst, it["params"])
                want_cols, want_rows = oracle.answer(sql)
                why = check.compare(r["cols"], r["rows"], want_cols, want_rows)
            except Exception as e:  # an oracle that cannot run is a failure too
                why = f"oracle: {e}"[:300]
        if why is not None:
            fails.append((r["i"], r["phase"], it["tpl"], why))
    if workload == "mutate":
        done = sorted({r["i"] for r in recs})
        if done != list(range(len(done))):
            fails.append((-1, "final", "space", "statements ran out of order"))
        else:
            space = streams.replay_mutate(seed, n, base, len(done))
            with open(os.path.join(out, "final.json")) as f:
                fin = json.load(f)
            want_c = [[v] + r for v, r in space.cust.items()]
            want_p = [[s, d, k, tp] for (s, d, k), tp in space.placed.items()]
            for tbl, cols, want in (("customer", streams.FETCH_COLS, want_c),
                                    ("placed", ["src", "dst", "rank", "totalprice"],
                                     want_p)):
                why = check.compare(fin[f"{tbl}_cols"], fin[tbl], cols, want)
                if why:
                    fails.append((-1, "final", tbl, why))
    return fails


def _end_to_end(recs, setup):
    out = {"setup_s": statistics.median(setup["setup_ns"]) / 1e9,
           "ops_per_s": metrics.ops_per_s(recs)}
    for cls in metrics.CLASSES:
        out[f"{cls}_ms"] = metrics.class_latency_ms(recs, cls)
    return out


def _per_layer(workload, items, recs_a, recs_b, trace, setup, out, data):
    by_i = {it["i"]: it for it in items}
    ub = {i: it.get("user_bytes", 0) for i, it in by_i.items()}
    m = metrics.per_layer(recs_b, trace, ub)
    m["sources.store_build_s"] = setup["store_build_ns"] / 1e9
    m["sources.store_bytes_per_input_byte"] = (
        setup["store_bytes"] / datagen.input_bytes(data))
    m["operators.space_amp"] = 0.0
    if workload == "mutate":
        with open(os.path.join(out, "final.json")) as f:
            fin = json.load(f)
        live = streams.Space({r[0]: r[1:] for r in fin["customer"]},
                             {tuple(r[:3]): r[3] for r in fin["placed"]})
        m["operators.space_amp"] = fin["disk_bytes"] / live.live_bytes()
    m["jvm.heap_peak_mb"] = trace["heap_peak_bytes"] / 2 ** 20
    # traced total against the mean of the untraced windows before and
    # after it, so warm-up drift during the run cancels
    a = sum(r["end"] - r["start"] for r in recs_a) / 2
    b = sum(r["end"] - r["start"] for r in recs_b)
    m["trace.overhead_frac"] = b / a - 1.0 if a else 0.0
    return m


def main(argv=None):
    a = _args(sys.argv[1:] if argv is None else argv)
    build.require_sources()
    runs = os.path.join(build.BENCH, ".runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = os.path.join(runs, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    classpath = build.ensure(os.path.join(runs, "build.log"))
    t_built = time.time()

    data = _data()
    n = datagen.sizes(SCALE)
    con = datagen.connect(data)
    base = _mutate_base(con) if a.workload == "mutate" else None
    setup_items, warmup, items = _stream(a.workload, a.seed, n, base)
    stream = os.path.join(run_dir, "stream.json")
    streams.write(stream, setup_items, warmup, items)
    with open(os.path.join(run_dir, "meta.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "trace": a.trace, "scale": SCALE, "data_seed": DATA_SEED,
                   "setups": SETUPS,
                   "cpus": CPUS}, f)

    out = os.path.join(run_dir, "out")
    work = os.path.join(run_dir, "work")
    _jvm(classpath, a, data, _store_root(data), stream, out, work,
         os.path.join(run_dir, "jvm.log"),
         deadline=t_built + JVM_BUDGET_S)
    shutil.rmtree(work, ignore_errors=True)

    recs = _load_results(os.path.join(out, "results.jsonl"))
    with open(os.path.join(out, "oracles.json")) as f:
        oracles = json.load(f)
    with open(os.path.join(out, "setup.json")) as f:
        setup = json.load(f)
    fails = _check(a.workload, a.seed, n, items, recs, oracles, con, base, out)
    recs_a = [r for r in recs if r["phase"] == "untraced"]
    recs_b = [r for r in recs if r["phase"] == "traced"]
    if a.trace:
        with open(os.path.join(out, "trace.json")) as f:
            trace = json.load(f)
        untraced = [r for r in recs if r["phase"] in ("untraced", "untraced-after")]
        result = _per_layer(a.workload, items, untraced, recs_b, trace, setup, out, data)
    else:
        result = _end_to_end(recs_a, setup)
    failed_ids = {(i, ph) for i, ph, _, _ in fails}
    # mutate's final-state comparison counts as one more checked operation
    attempted = len(recs) + (a.workload == "mutate")
    summary = {
        "seed": a.seed, "workload": a.workload, "trace": a.trace,
        "attempted": attempted, "failed": len(failed_ids),
        "failures": [{"i": i, "phase": ph, "tpl": t, "why": w}
                     for i, ph, t, w in fails],
        "samples": {c: sum(1 for r in recs_a if r["cls"] == c)
                    for c in metrics.CLASSES},
        "p90_ms": {c: metrics.percentile(
            [(r["end"] - r["start"]) / 1e6 for r in recs_a if r["cls"] == c], 0.9)
            for c in metrics.CLASSES},
        "metrics": result,
    }
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    for i, ph, t, w in fails:
        sys.stderr.write(f"perfbench: FAILED request {i} ({ph}, {t}): {w}\n")

    line = {
        "correct": not fails and len(recs) > 0,
        "attempted": attempted,
        "failed": len(failed_ids),
        "metrics": {k: {"value": v, "unit": layer_unit(k) if a.trace else E2E_UNITS[k]}
                    for k, v in result.items()},
    }
    print(json.dumps(line))


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac") or name.endswith("_amp") or name.endswith("_byte"):
        return "ratio"
    return "count"
