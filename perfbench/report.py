"""Turn one harness run into the benchmark's metrics.

`metrics` returns the end-to-end metrics (untraced runs) or the per-layer
metrics (traced runs), plus a detail record for people. `tail`,
`self_times` and `adopt_orphans` are the rules those metrics follow, and
are tested on their own.
"""
import math
import statistics

# The gates each workload runs, in this order on every pass. A gate's time
# depends on what ran before it in the JVM, so the order is fixed; README.md
# gives the reasons for the list.
WORKLOADS = {
    "taxi_pipeline": [],
    "gates_iterative": ["q_kcore", "q_sessions_stream"],
}
GATE_NAMES = [g for gates in WORKLOADS.values() for g in gates]

END_TO_END = {
    "setup_s": "s", "batch_s": "s",
}

LAYERS = ["sources", "etl", "ml", "serve", "queries", "streaming", "catalyst", "exec"]

PER_LAYER = {
    "sources.csv_read_s": "s",
    "etl.clean_plan_s": "s", "etl.write_s": "s", "etl.verify_s": "s",
    "etl.write_amp": "ratio", "etl.rows_kept_frac": "ratio",
    "ml.fit_s": "s", "ml.evaluate_s": "s", "ml.jobs": "count",
    "serve.parity_http_p50_ms": "ms", "serve.parity_http_tail_ms": "ms",
    "serve.predict_p50_ms": "ms", "serve.fast_predict_p50_us": "us",
    "serve.gen_late_p99_ms": "ms", "serve.backlog_max": "count",
    "serve.fast_http_p50_ms": "ms", "serve.fast_http_tail_ms": "ms",
    "queries.build_s": "s", "queries.exec_s": "s",
    "queries.plans_per_gate": "count", "queries.jobs_per_gate": "count",
    **{f"gate.{g}_s": "s" for g in GATE_NAMES},
    "streaming.triggers": "count", "streaming.trigger_p50_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.plans": "count",
    "exec.jobs": "count", "exec.tasks": "count", "exec.run_s": "s", "exec.cpu_s": "s",
    "exec.sched_delay_s": "s", "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.core_busy_frac": "ratio", "exec.interpreted_nodes": "count",
    "jvm.gc_ms": "ms", "jvm.jit_ms": "ms", "jvm.code_cache_mb": "MB", "jvm.heap_peak_mb": "MB",
    "jvm.rss_peak_mb": "MB",
    "host.steal_pct": "%",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.overhead_s": "s", "trace.overhead_frac": "ratio",
}


def tail(values, beyond=10):
    """The highest whole percentile that has at least `beyond` samples above
    it, by the nearest-rank rule: (percentile, value). With too few samples
    for any percentile from 50 up to qualify (fewer than 20), the maximum,
    labelled 100.
    """
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= beyond:
            return p, xs[rank - 1]
    return 100, xs[-1]


def median(values, default=0.0):
    return statistics.median(values) if values else default


def self_times(spans):
    """Self time of each span, in ms: its duration minus the part of it
    that its children's intervals cover (overlapping children count once).
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        iv = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                    for c in kids.get(s["id"], []))
        covered, end = 0.0, lo
        for a, b in iv:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = max(0.0, hi - lo - covered)
    return out


SPARK_SPANS = ("exec.", "catalyst.", "streaming.")


def adopt_orphans(spans):
    """Give each span recorded without a parent (-1: Spark work on a thread
    the harness does not own, such as HttpScoring's dispatch thread or the
    listener bus) the deepest harness span that contains its start; among
    equally deep candidates, the earliest started, since a single-threaded
    server works on its oldest outstanding request first.
    """
    by_id = {s["id"]: s for s in spans}

    def depth(s):
        d = 0
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
            d += 1
        return d

    hosts = [s for s in spans if not s["name"].startswith(SPARK_SPANS)]
    depths = {s["id"]: depth(s) for s in hosts}
    for s in spans:
        if s["parent"] != -1:
            continue
        cands = [h for h in hosts if h["start_ms"] <= s["start_ms"] <= h["end_ms"]]
        if cands:
            h = max(cands, key=lambda h: (depths[h["id"]], -h["start_ms"]))
            s["parent"], s["trace"] = h["id"], h["trace"]
        else:
            s["parent"] = 0
    for s in spans:  # children recorded before their parent was adopted
        if s["trace"] == -1 and s["parent"] in by_id:
            s["trace"] = by_id[s["parent"]]["trace"]
    return spans


def layer_of(name):
    head = name.split(".", 1)[0]
    return "queries" if head == "gate" else head


def _gate_runs(passes):
    return [g for p in passes for g in p]


def metrics(workload, res, t_setup, spans=None, untraced_batch_s=None, contended=False):
    detail = {"workload": workload, "nproc": res["nproc"], "steal_pct": res["steal_pct"],
              "contended": contended, "peak_rss_mb": res["peak_rss_mb"]}
    if workload == "taxi_pipeline":
        etl, train, serve = res["etl"], res["train"], res["serve"]
        batch = etl["wall_s"] + train["wall_s"]
        lat = serve["parity"]["lat_ms"]
        detail.update(etl_s=etl["wall_s"], train_s=train["wall_s"], rmse=train["rmse"],
                      mae=train["mae"], etl_rows=etl["rows"], parity_p50_ms=median(lat),
                      parity_tail_ms=tail(lat), parity_ms=[round(x, 1) for x in lat])
    else:
        passes = res["passes"]
        batch = median([sum(g["build_s"] + g["exec_s"] for g in p) for p in passes])
        detail.update(passes=len(passes), order=res["order"],
                      warmup_s={g["name"]: round(g["s"], 3) for g in res["warmup"]},
                      passes_s=[{g["name"]: round(g["build_s"] + g["exec_s"], 3) for g in p}
                                for p in passes])
    e2e = {"setup_s": res["first_timed_ms"] / 1000.0 - t_setup, "batch_s": batch}
    if spans is None:
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}, detail
    layer = per_layer(workload, res, spans)
    # tracing overhead: this traced run against the median untraced run of
    # the same workload in this checkout, when there is one
    if untraced_batch_s:
        layer["trace.overhead_s"] = batch - untraced_batch_s
        layer["trace.overhead_frac"] = layer["trace.overhead_s"] / untraced_batch_s
    else:
        detail["trace_overhead"] = "no untraced run of this workload in this checkout"
    detail["end_to_end_traced"] = e2e
    return {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}, detail


def per_layer(workload, res, spans):
    m = {}
    t0, t1 = res["timed_ms"]
    spans = adopt_orphans(spans)
    selfs = self_times(spans)
    timed = [s for s in spans if t0 <= s["start_ms"] <= t1]
    named = lambda prefix: [s for s in timed if s["name"].startswith(prefix)]  # noqa: E731
    # gate workloads report per pass; the taxi pipeline runs its flow once
    per = len(res["passes"]) if "passes" in res else 1

    if workload == "taxi_pipeline":
        etl, train, serve = res["etl"], res["train"], res["serve"]
        m["sources.csv_read_s"] = etl["read_s"]
        m["etl.clean_plan_s"] = etl["clean_s"]
        m["etl.write_s"] = etl["write_s"]
        m["etl.verify_s"] = etl["verify_s"]
        m["etl.write_amp"] = etl["out_bytes"] / max(1, etl["raw_bytes"])
        m["etl.rows_kept_frac"] = etl["rows"] / max(1, res["raw_rows"])
        m["ml.fit_s"] = train["fit_s"]
        m["ml.evaluate_s"] = train["evaluate_s"]
        train_traces = {s["trace"] for s in timed if s["name"] == "ml.train"}
        m["ml.jobs"] = sum(1 for s in named("exec.job") if s["trace"] in train_traces)
        exp = serve["expected"]
        m["serve.predict_p50_ms"] = median([e["predict_ms"] for e in exp])
        m["serve.fast_predict_p50_us"] = median([e["fast_us"] for e in exp])
        late = serve["parity"]["late_ms"] + serve["fast"]["late_ms"]
        m["serve.gen_late_p99_ms"] = tail(late)[1]
        m["serve.backlog_max"] = max(serve["parity"]["backlog_max"], serve["fast"]["backlog_max"])
        m["serve.parity_http_p50_ms"] = median(serve["parity"]["lat_ms"])
        m["serve.parity_http_tail_ms"] = tail(serve["parity"]["lat_ms"])[1]
        m["serve.fast_http_p50_ms"] = median(serve["fast"]["lat_ms"])
        m["serve.fast_http_tail_ms"] = tail(serve["fast"]["lat_ms"])[1]
    else:
        runs = _gate_runs(res["passes"])
        m["queries.build_s"] = sum(g["build_s"] for g in runs) / per
        m["queries.exec_s"] = sum(g["exec_s"] for g in runs) / per
        for g in set(g["name"] for g in runs):
            m[f"gate.{g}_s"] = median([r["build_s"] + r["exec_s"] for r in runs if r["name"] == g])
        gate_traces = {s["trace"] for s in timed if s["name"].startswith("gate.")}
        n_gates = max(1, len(runs))
        m["queries.plans_per_gate"] = sum(
            1 for s in named("catalyst.plan") if s["trace"] in gate_traces) / n_gates
        m["queries.jobs_per_gate"] = sum(
            1 for s in named("exec.job") if s["trace"] in gate_traces) / n_gates

    trig = named("streaming.trigger")
    if trig:
        m["streaming.triggers"] = len(trig) / per
        m["streaming.trigger_p50_ms"] = median([s["end_ms"] - s["start_ms"] for s in trig])
        for k in ("add_batch_ms", "query_planning_ms", "wal_commit_ms"):
            m[f"streaming.{k}"] = sum(s["attrs"].get(k, 0.0) for s in trig) / per

    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = sum(
            s["end_ms"] - s["start_ms"] for s in named(f"catalyst.{ph}")) / per
    plans = named("catalyst.plan")
    m["catalyst.plans"] = len(plans) / per
    m["exec.interpreted_nodes"] = sum(s["attrs"].get("interpreted_nodes", 0) for s in plans) / per

    jobs = named("exec.job")
    tot = lambda k: sum(s["attrs"].get(k, 0.0) for s in jobs)  # noqa: E731
    m["exec.jobs"] = len(jobs) / per
    m["exec.tasks"] = tot("tasks") / per
    m["exec.run_s"] = tot("run_ms") / 1000 / per
    m["exec.cpu_s"] = tot("cpu_ms") / 1000 / per
    m["exec.sched_delay_s"] = tot("sched_delay_ms") / 1000 / per
    m["exec.shuffle_read_mb"] = tot("shuffle_read_b") / 1e6 / per
    m["exec.shuffle_write_mb"] = tot("shuffle_write_b") / 1e6 / per
    m["exec.spill_mb"] = tot("spill_b") / 1e6 / per
    wall_s = (t1 - t0) / 1000
    m["exec.core_busy_frac"] = tot("run_ms") / 1000 / max(1e-9, wall_s * res["nproc"])

    m["jvm.gc_ms"] = res["gc_ms"]
    m["jvm.jit_ms"] = res["jit_ms"]
    m["jvm.code_cache_mb"] = res["jvm"]["code_cache_mb"]
    m["jvm.heap_peak_mb"] = res["jvm"]["heap_peak_mb"]
    m["jvm.rss_peak_mb"] = res["peak_rss_mb"]
    m["host.steal_pct"] = res["steal_pct"]

    for layer in LAYERS:
        m[f"{layer}.self_s"] = sum(selfs[s["id"]] for s in timed
                                   if layer_of(s["name"]) == layer) / 1000 / per
    return m
