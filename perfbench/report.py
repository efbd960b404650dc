"""Turn the harness's raw record into the run's metrics, spans and samples.

Timed passes have pass >= 0; set-up passes are negative. In a traced run
the odd timed passes ran with the listeners attached: the per-layer
metrics come from those, and the even (untraced) passes give the
throughput the tracing overhead is measured against.
"""
import math
from collections import defaultdict

from stats import covered, median, percentile, self_time, union_length

MODULES = ("Relational", "Analytics", "Advanced", "Graph", "Dedup", "Similarity",
           "TextAnalysis", "Sessionize", "Recommender", "Sentiment", "Ingest")
HEAD_LAYERS = {"fit:als": "ml.als_fit_s", "index:items": "ml.item_index_s",
               "fit:sentiment": "ml.sentiment_fit_s", "index:ann": "ml.ann_index_s"}
PHASES = {"analysis": "plan.analysis_s", "optimization": "plan.optimization_s",
          "planning": "plan.planning_s"}
JOB_SUMS = {"exec.stages": ("stages", 1), "exec.tasks": ("tasks", 1),
            "exec.task_run_s": ("run_ms", 1e-3), "exec.task_cpu_s": ("cpu_ns", 1e-9),
            "exec.gc_s": ("gc_ms", 1e-3), "exec.shuffle_write_bytes": ("shuffle_w", 1),
            "exec.shuffle_read_bytes": ("shuffle_r", 1), "exec.spill_bytes": ("spill", 1),
            "scan.input_bytes": ("input", 1)}
UNITS = {"_per_s": "1/s", "_s": "s", ".s": "s", "_bytes": "B", "_cores": "cores",
         "_mb": "MB", "_share": "ratio", "_pct": "%"}


def unit(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def wall(s):
    return (s["t2"] - s["t0"]) / 1e6


def layer_rows(raw, samples):
    """Per-op layer split from the traced data: jobs (by job group),
    planning phases and AQE re-plans (by time and execution id)."""
    tr = raw["trace_data"]
    jobs = defaultdict(list)
    for j in tr["jobs"]:
        if j["group"].startswith("op-") and j["end"] >= j["start"]:
            jobs[int(j["group"][3:])].append(j)
    exec_op = {j["exec"]: op for op, js in jobs.items() for j in js if j["exec"]}
    aqe = defaultdict(int)
    for e in tr["aqe_exec_ids"]:
        if str(e) in exec_op:
            aqe[exec_op[str(e)]] += 1
    execs = tr["sql_execs"]
    by_start = sorted(samples, key=lambda s: s["t0"])
    phases = defaultdict(list)
    for ph in tr["phases"]:
        start = ph["start"] * 1000
        for s in by_start:  # a phase belongs to the op it started in
            if s["t0"] - 1000 <= start < s["t2"]:
                phases[s["id"]].append((ph["name"], start, ph["end"] * 1000))
                break
    rows = {}
    for s in samples:
        js = jobs.get(s["id"], [])
        jiv = [(j["start"] * 1000, j["end"] * 1000) for j in js]
        piv = [(a, b) for _, a, b in phases.get(s["id"], [])]
        w = s["t2"] - s["t0"]
        job = covered(jiv, s["t0"], s["t2"])
        plan = covered(piv, s["t0"], s["t2"])
        # driver time: the part of the op its jobs and phases leave
        driver = w - covered(jiv + piv, s["t0"], s["t2"])
        # the adds-up check compares two clocks: construction on the
        # harness's, then the SQL executions Spark timed after it
        xiv = [(x["start"] * 1000, x["end"] * 1000) for x in execs
               if s["t1"] - 1000 <= x["start"] * 1000 < s["t2"]]
        accounted = (s["t1"] - s["t0"]) + union_length(xiv)
        r = {"job_s": job / 1e6, "plan_s": plan / 1e6, "gap_s": (w - job) / 1e6,
             "driver_s": driver / 1e6, "accounted_s": accounted / 1e6,
             "adds_up": abs(accounted / w - 1) <= 0.1 if w else True,
             "construct_s": (s["t1"] - s["t0"]) / 1e6 - sum(b[1] for b in s["builds"]),
             "jobs": len(js), "aqe_replans": aqe.get(s["id"], 0),
             "busy_s": sum(j["busy_ms"] for j in js) / 1e3}
        for name, a, b in phases.get(s["id"], []):
            key = PHASES.get(name)
            if key:
                r[key] = r.get(key, 0.0) + (b - a) / 1e6
        for key, (field, scale) in JOB_SUMS.items():
            r[key] = sum(j[field] for j in js) * scale
        rows[s["id"]] = r
    return rows, jobs, phases


def spans(samples, jobs, phases):
    """The span tree: run > pass > op > construct / plan / execute > job.
    Cache builds are child durations of construct (the ledger has no
    start times)."""
    out = []
    out.append({"id": "run", "parent": None, "name": "run",
                "start": min(s["t0"] for s in samples), "end": max(s["t2"] for s in samples)})
    for p in sorted({s["pass"] for s in samples}):
        ss = [s for s in samples if s["pass"] == p]
        out.append({"id": f"pass{p}", "parent": "run", "name": "pass",
                    "start": min(s["t0"] for s in ss), "end": max(s["t2"] for s in ss)})
    for s in samples:
        op = f"op{s['id']}"
        # self time: the driver-side part, not covered by jobs or planning
        children = ([(j["start"] * 1000, j["end"] * 1000) for j in jobs.get(s["id"], [])]
                    + [(a, b) for _, a, b in phases.get(s["id"], [])])
        out.append({"id": op, "parent": f"pass{s['pass']}", "name": s["name"],
                    "start": s["t0"], "end": s["t2"],
                    "self": self_time((s["t0"], s["t2"]), children)})
        out.append({"id": op + ".construct", "parent": op, "name": "construct",
                    "start": s["t0"], "end": s["t1"],
                    "self": self_time((s["t0"], s["t1"]), children)})
        out.append({"id": op + ".execute", "parent": op, "name": "execute",
                    "start": s["t1"], "end": s["t2"],
                    "self": self_time((s["t1"], s["t2"]), children)})
        for k, sec in s["builds"]:
            out.append({"id": f"{op}.build.{k}", "parent": op + ".construct",
                        "name": "caches.build", "key": k, "duration": sec * 1e6})
        for name, a, b in phases.get(s["id"], []):
            out.append({"id": f"{op}.plan.{name}.{a}", "parent": op, "name": f"plan.{name}",
                        "start": a, "end": b})
        for j in jobs.get(s["id"], []):
            a = j["start"] * 1000
            parent = op + (".construct" if a < s["t1"] else ".execute")
            out.append({"id": f"job{j['id']}", "parent": parent, "name": "job",
                        "start": a, "end": j["end"] * 1000, "stages": j["stages"],
                        "tasks": j["tasks"]})
    return out


def per_pass(samples, fn):
    """Median over passes of a per-pass total."""
    groups = defaultdict(list)
    for s in samples:
        groups[s["pass"]].append(s)
    return median([fn(ss) for ss in groups.values()])


def build(raw, ops, counts, oracle):
    samples = raw["samples"]
    for s in samples:
        s["wall_s"] = wall(s)
        s["input_rows"] = sum(counts[t] for t in ops[s["name"]][1])
        s["caches.builds"] = len(s["builds"])
    timed = [s for s in samples if s["pass"] >= 0]
    traced_passes = set(raw["traced_passes"])
    plain = [s for s in timed if s["pass"] not in traced_passes]
    traced = [s for s in timed if s["pass"] in traced_passes]

    def qps(ss):
        return len(ss) / sum(s["wall_s"] for s in ss)

    walls = [s["wall_s"] for s in plain]
    by_op = defaultdict(list)
    for s in plain:
        by_op[s["name"]].append(s["wall_s"])
    e2e = {
        "setup_s": raw["setup_s"],
        # each op's median, then their geometric mean: a typical query
        # that no single op's duration can jump to
        "query_p50_s": math.exp(sum(math.log(median(v)) for v in by_op.values()) / len(by_op)),
        "pass_s": sum(median(v) for v in by_op.values()),
        "queries_per_s": qps(plain),
        "input_rows_per_s": sum(s["input_rows"] for s in plain) / sum(walls),
        "retained_heap_mb": raw["retained_heap_mb"],
    }
    rec = {"samples": samples, "session_s": raw["session_s"], "warmup_s": raw["warmup_s"],
           "passes": raw["passes"],
           "peak_rss_mb": raw["peak_rss_mb"],
           "traced_passes": sorted(traced_passes), "oracle": oracle,
           # too few samples per run for a steady tail: recorded, not gated
           "query_p90_s": {"value": percentile(walls, 90), "samples": len(walls)},
           "end_to_end": {k: {"value": v, "unit": unit(k)} for k, v in e2e.items()}}

    layer = {}
    if traced:
        rows, jobs, phases = layer_rows(raw, samples)
        for s in samples:
            s["layers"] = rows[s["id"]]

        def lsum(key):
            return lambda ss: sum(rows[s["id"]].get(key, 0.0) for s in ss)

        def named(*names):
            return lambda ss: sum(s["wall_s"] for s in ss if s["name"] in names)

        layer["session.start_s"] = raw["session_s"]
        layer["warmup_s"] = raw["warmup_s"]
        for op, key in HEAD_LAYERS.items():
            layer[key] = per_pass(traced, named(op))
        layer["ml.first_recs_s"] = per_pass(
            traced, named("fit:als", "index:items", "m1_als_recommend"))
        layer["ml.first_sentiment_s"] = per_pass(traced, named("fit:sentiment", "m2_sentiment"))
        layer["entry.construct_s"] = per_pass(traced, lsum("construct_s"))
        for k in PHASES.values():
            layer[k] = per_pass(traced, lsum(k))
        layer["plan.aqe_replans"] = per_pass(traced, lsum("aqe_replans"))
        layer["exec.jobs"] = per_pass(traced, lsum("jobs"))
        for k in JOB_SUMS:
            layer[k] = per_pass(traced, lsum(k))
        layer["exec.job_s"] = per_pass(traced, lsum("job_s"))
        layer["exec.driver_gap_s"] = per_pass(traced, lsum("gap_s"))
        layer["exec.busy_cores"] = per_pass(
            traced, lambda ss: lsum("busy_s")(ss) / sum(s["wall_s"] for s in ss))
        layer["caches.builds"] = per_pass(traced, lambda ss: sum(len(s["builds"]) for s in ss))
        layer["caches.build_s"] = per_pass(
            traced, lambda ss: sum(b[1] for s in ss for b in s["builds"]))
        for m in MODULES:
            layer[f"module.{m}.s"] = per_pass(
                traced, lambda ss: sum(s["wall_s"] for s in ss if s["module"] == m))
        layer["trace.queries_per_s"] = qps(traced)
        layer["trace.overhead_pct"] = (qps(plain) / qps(traced) - 1) * 100
        layer["trace.adds_up_share"] = (sum(rows[s["id"]]["adds_up"] for s in traced)
                                        / len(traced))
        rec["spans"] = spans(samples, jobs, phases)
        rec["tracing_overhead"] = {"untraced_queries_per_s": qps(plain),
                                   "traced_queries_per_s": qps(traced),
                                   "overhead_pct": layer["trace.overhead_pct"]}
    rec["per_layer"] = {k: {"value": v, "unit": unit(k)} for k, v in layer.items()}
    bad_ops = sum(not s["ok"] for s in samples)
    bad_oracle = sum(err is not None for err in oracle.values())
    rec["attempted"] = len(samples) + len(oracle)
    rec["failed"] = bad_ops + bad_oracle
    rec["correct"] = rec["failed"] == 0
    return rec
