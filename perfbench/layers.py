"""Per-layer metrics of a traced run, from the raw record the JVM writes:
harness spans and op records, Spark listener jobs/stages/tasks, query
planning phases and observed metrics, and streaming progress.

Each metric is computed per traced pass and reported as the median over
the traced passes. A layer a workload does not exercise reports 0.
"""
import json
import os

from stats import median, offstage, percentile, union_length

# (name, unit, better) of every per-layer metric, in BENCHMARK.json's
# order; interactions.json also says what each should move, and where.
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "interactions.json")) as _f:
    INTERACTIONS = json.load(_f)
PER_LAYER = [(e["name"], e["unit"], e["better"]) for e in INTERACTIONS["layers"]]

MB = 1024.0 * 1024.0
TABLES = ["customer", "supplier", "part", "orders", "lineitem", "events", "documents",
          "embeddings"]
CHECKPOINT_FUNCS = {"checkpoint", "localCheckpoint"}


def input_rows(manifest):
    """Rows of every table the workload's inputs hold."""
    return sum(v for k, v in manifest["rows"].items() if k in TABLES)


def _inside(t, lo, hi):
    return lo <= t <= hi


def _op_wall(p, name):
    return sum(o["wall_s"] for o in p["ops"] if o["op"] == name)


def pass_metrics(p, trace, cores):
    """Layer values of one traced pass."""
    lo, hi, wall = p["start"], p["end"], p["wall_s"]
    stages = [s for s in trace["stages"] if _inside(s["submit"], lo, hi)]
    jobs = [j for j in trace["jobs"] if _inside(j["submit"], lo, hi)]
    queries = [q for q in trace["queries"]
               if "analysis" in q["phases"] and _inside(q["phases"]["analysis"][0], lo, hi)]
    tot = lambda k: sum(s.get(k, 0) for s in stages)  # noqa: E731
    phase = lambda k: sum(q["phases"][k][1] - q["phases"][k][0]  # noqa: E731
                          for q in queries if k in q["phases"]) / 1000.0
    run_s = tot("run_ms") / 1000.0
    off = offstage(wall * 1000.0, [(s["submit"], s["complete"]) for s in stages], lo, hi) / 1000.0
    skews = [s["task_read_max"] / s["task_read_median"] for s in stages
             if s.get("task_read_median", 0) > 0]
    caps = [c for q in queries for c in q["caps"].values()]
    m = {
        "tables.input_mb": tot("input_bytes") / MB,
        "tables.input_rows": tot("input_records"),
        "tables.scan_run_s": sum(s.get("run_ms", 0) for s in stages if s.get("input_bytes", 0) > 0) / 1000.0,
        "planner.build_s": 0.0,
        "planner.analysis_s": phase("analysis"),
        "planner.optimization_s": phase("optimization"),
        "planner.physical_s": phase("planning"),
        "driver.offstage_s": off,
        "driver.jobs": len(jobs),
        "driver.stages": len(stages),
        "driver.tasks": tot("tasks"),
        "exec.run_s": run_s,
        "exec.cpu_s": tot("cpu_ns") / 1e9,
        "exec.gc_s": tot("gc_ms") / 1000.0,
        "exec.util": run_s / (wall * cores),
        "shuffle.write_mb": tot("shuffle_write_bytes") / MB,
        "shuffle.read_mb": tot("shuffle_read_bytes") / MB,
        "shuffle.fetch_wait_s": tot("fetch_wait_ms") / 1000.0,
        "shuffle.spill_mb": tot("spill_bytes") / MB,
        "shuffle.skew": max(skews) if skews else 0.0,
        "commit.output_mb": tot("output_bytes") / MB,
        "commit.files": sum(o.get("files", 0) for o in p["ops"] if o.get("writes")),
        "commit.s": 0.0,
        "dedup.cap_excluded_ratio": (sum(c[0] for c in caps) / sum(c[1] for c in caps)
                                     if caps and sum(c[1] for c in caps) else 0.0),
        "curate.curate_s": _op_wall(p, "curate"),
        "pack.pack_s": _op_wall(p, "pack"),
        "knn.semdedup_s": _op_wall(p, "semdedup"),
        "knn.pq_s": _op_wall(p, "knn_pq"),
        "graph.pagerank_s": _op_wall(p, "q_pagerank"),
        "graph.cc_s": _op_wall(p, "q_connected_components"),
        "jvm.gc_s": p["gc_ms"] / 1000.0,
        "jvm.heap_peak_mb": p["heap_peak_mb"],
    }
    # commit: from the write's last task ending to the write returning
    # (job-end bookkeeping plus the driver-side job commit)
    for o in p["ops"]:
        if o.get("writes"):
            ends = [s["last_task_end"] for s in stages
                    if _inside(s["submit"], o["start"], o["end"]) and s["last_task_end"] > 0]
            if ends:
                m["commit.s"] += (o["end"] - max(ends)) / 1000.0
    graph = [o for o in p["ops"] if o["op"] in ("q_pagerank", "q_connected_components")]
    rounds = sum(1 for q in queries if q["func"] in CHECKPOINT_FUNCS
                 and any(_inside(q["phases"]["analysis"][0], o["start"], o["end"]) for o in graph))
    m["graph.rounds"] = rounds
    m["graph.round_s"] = (m["graph.pagerank_s"] + m["graph.cc_s"]) / rounds if rounds else 0.0
    batches = [b for o in p["ops"] for b in o.get("batches", [])]
    mean = lambda k: sum(b[k] for b in batches) / len(batches) / 1000.0 if batches else 0.0  # noqa: E731
    m.update({
        "stream.batches": len(batches),
        "stream.batch_s": mean("trigger_ms"),
        "stream.plan_s": mean("plan_ms"),
        "stream.addbatch_s": mean("addbatch_ms"),
        "stream.wal_s": mean("wal_ms"),
        "stream.state_rows": max((b["state_rows"] for b in batches), default=0),
        "stream.state_mb": max((b["state_bytes"] for b in batches), default=0) / MB,
        "stream.state_commit_s": mean("state_commit_ms"),
    })
    return m


def _pct(xs, p):
    v = percentile(xs, p)
    return 0.0 if v is None else v


def per_layer(workload, manifest, raw, kept_ratio, fail_ratio):
    """(metrics for the result line, report for the trace file: span
    self-times per traced pass, and every traced pass's layer values)."""
    traced = raw["traced"]
    cores = raw["cores"]
    per_pass = [pass_metrics(p, traced, cores) for p in traced["passes"]]
    builds = [s for s in raw["spans"] if s["name"] == "build"]
    for p, m in zip(traced["passes"], per_pass):
        m["planner.build_s"] = sum(s["end"] - s["start"] for s in builds
                                   if _inside(s["start"], p["start"], p["end"])) / 1000.0
    values = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    values["jvm.heap_peak_mb"] = max(m["jvm.heap_peak_mb"] for m in per_pass)
    values["session.create_s"] = raw["setup"]["create_s"]
    values["session.warm_s"] = raw["setup"]["warm_s"]
    values.update({k: traced["probes"].get(k, 0.0)
                   for k in ("dedup.minhash_s", "dedup.spans_s", "dedup.decontam_s")})
    values["curate.kept_ratio"] = kept_ratio or 0.0
    # the client's view, pooled over every pass of the run but the warm
    # one, so the percentiles have enough samples beyond them
    untraced = raw["untraced"] + traced["untraced_after"]
    ops = [o for p in raw["untraced"] + traced["passes"] + traced["untraced_after"]
           for o in p["ops"]]
    walls = [o["wall_s"] for o in ops]
    drains = [o for o in ops if o["op"] == "stream_drain" and o["ok"]]
    per_file = manifest["rows"].get("stream_rows_per_file", 0)
    lags = [x for o in ops for x in o.get("lags_s", [])]
    values.update({
        "client.op_p50_s": _pct(walls, 50),
        "client.op_samples": len(walls), "client.stream_lag_samples": len(lags),
        "client.stream_events_per_s": (median([per_file * o["files"] / o["wall_s"] for o in drains])
                                       if drains else 0.0),
        "client.stream_lag_p50_s": _pct(lags, 50), "client.stream_lag_p90_s": _pct(lags, 90),
        "client.fail_ratio": fail_ratio,
        "trace.overhead_s": (median([p["wall_s"] for p in traced["passes"]])
                             - median([p["wall_s"] for p in untraced])),
    })
    metrics = {n: {"value": values[n], "unit": u} for n, u, _ in PER_LAYER}
    n = len(traced["passes"])
    lo, hi = traced["passes"][0]["start"], traced["passes"][-1]["end"]
    report = {
        "workload": workload,
        "self_times": {k: v / n for k, v in self_times(raw["spans"], lo, hi).items()},
        "per_pass": per_pass,
    }
    return metrics, report


def self_times(spans, lo, hi):
    """Seconds of self time per kind of span (pass, op, build, action)
    over spans starting in [lo, hi]: a span's duration minus the part
    its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        if _inside(s["start"], lo, hi):
            own = (s["end"] - s["start"]) - union_length(kids.get(s["id"], []), s["start"], s["end"])
            key = s["name"] if s["name"] in ("pass", "build", "action") else "op"
            out[key] = out.get(key, 0.0) + own / 1000.0
    return out
