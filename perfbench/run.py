#!/usr/bin/env python3
"""graft benchmark: one seeded workload, one JVM, one result line.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 5 --trace 0

Builds graft and the harness from source (once per source state), makes
the workload's inputs from the seed, runs the workload on one
local[nproc] session from one client thread, checks its outputs, and
prints as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (see README.md). Everything else goes to standard error.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from stats import median  # noqa: E402

DEADLINE_S = 170  # the whole run must end within 180 s
STATE = os.path.join(ROOT, ".perfbench")

ANALYTICS_OPS = ["q1_pricing", "q3_shipping", "q5_local_supplier", "q_sparse_join",
                 "q_skewed_split", "q_top_by_key", "q_rolling", "q_window_session", "q_funnel"]
# the curation pipeline runs as one block of three ops, in this order
PIPELINE = ["curate", "pack", "semdedup"]
INTERACTIVE_OPS = ["q1_pricing", "q3_shipping", "q_pagerank", "q_connected_components",
                   "q_dsir", "knn_pq", "stream_drain", "stream_open"]

# The sf0.1 corpus's own duplicate shares (docs with an exact copy
# earlier in the corpus; docs that are an earlier doc with one token
# inserted or deleted).
NEAR_DUP_SHARE = 0.047
EXACT_DUP_SHARE = 0.0016

# Per workload: what the generator makes (scale multiplies the sf0.1 row
# counts), the ops a pass runs in a seeded order, and the op parameters.
# The open leg lands 40 files of 51 events at 11 files/s, about 560
# events/s: 40-50% of the drain leg's capacity, measured at 1180-1410
# events/s (one 1020-event file per trigger, 4 cores). Its files are
# small so that a pass yields 40 lag samples in under 4 s.
WORKLOADS = {
    "batch": {
        "gen": {"scale": 1.0, "tables": ["star", "events", "documents", "embeddings"],
                "near_dup_share": NEAR_DUP_SHARE, "exact_dup_share": EXACT_DUP_SHARE},
        "ops": ANALYTICS_OPS + ["curate"],
        "params": {"spans_k": 20, "decontam_k": 13, "shards": 8, "window": 512},
    },
    "interactive": {
        "gen": {"scale": 0.1, "tables": ["star", "documents", "embeddings", "stream"],
                "near_dup_share": NEAR_DUP_SHARE, "exact_dup_share": EXACT_DUP_SHARE,
                "stream_events": 100000, "stream_files": 100, "open_events": 2000,
                "open_files": 40, "stream_dup_share": 0.02},
        "ops": INTERACTIVE_OPS,
        "params": {"drain_files": 6, "open_rate": 11.0, "timeout_s": 60},
    },
}
PASSES_PLANNED = 64


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jars: $SPARK_HOME's, else those of the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("[perfbench] set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def build(build_dir):
    """Compile graft's sources and the harness with the Scala compiler
    that ships in Spark's jars; skip when the sources are unchanged."""
    graft_src = os.path.join(ROOT, "src", "main", "scala")
    sources = sorted(glob.glob(f"{graft_src}/**/*.scala", recursive=True))
    if not sources:
        raise SystemExit(f"[perfbench] no graft sources under {graft_src}: run from a graft checkout")
    sources += sorted(glob.glob(f"{HERE}/src/*.scala"))
    digest = hashlib.sha256()
    for s in sources:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_path = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return classes
    t0 = time.perf_counter()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cp = os.path.join(spark_jars(), "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
                        f"@{argfile}"],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"[perfbench] compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    log(f"built {len(sources)} sources in {time.perf_counter() - t0:.1f} s")
    return classes


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(classes, plan, work, timeout):
    plan_path = os.path.join(work, "plan.json")
    raw_path = os.path.join(work, "raw.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap size and young generation, and the parallel collector,
    # whose young generation is one fixed space and whose old generation
    # fills from the bottom: the resident set then follows the memory
    # the run actually touches, not which regions a collector happened
    # to pick. The heap is not pre-touched. (On 4 cores, VmHWM spread
    # 10% over batch seeds with G1, 2-4% with this collector.)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(spark_jars(), '*')}", "perfbench.Main",
            plan_path, raw_path]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        raise SystemExit(f"[perfbench] JVM did not finish within {timeout:.0f} s")
    if rc != 0 or not os.path.exists(raw_path):
        raise SystemExit(f"[perfbench] JVM exited with {rc}")
    with open(raw_path) as f:
        return json.load(f)


def all_ops(raw):
    passes = ([raw["setup"]["pass"]] + raw["untraced"] + raw["traced"].get("passes", [])
              + raw["traced"].get("untraced_after", []))
    return [o for p in passes for o in p["ops"]]


def run_checks(name, data_dir, raw):
    """Check the warm pass's outputs; returns (failure messages,
    number of checked outputs, kept ratio)."""
    ops = raw["setup"]["pass"]["ops"]
    fails, n = check.oracle_ops(data_dir, ops)
    kept = None
    if name == "batch":
        more, kept = check.curate_invariants(data_dir, ops)
        fails += more
        n += 1
    if name == "interactive":
        p = WORKLOADS["interactive"]["params"]
        more = check.stream_invariants(data_dir, ops, p["drain_files"])
        fails += more
        n += sum(1 for o in ops if o["op"].startswith("stream_") and o.get("output"))
    return fails, n, kept


def end_to_end(manifest, raw):
    passes = raw["untraced"]
    pass_s = median([p["wall_s"] for p in passes])
    rows_per_s = layers.input_rows(manifest) / pass_s
    return {
        "setup_s": {"value": raw["setup"]["create_s"] + raw["setup"]["warm_s"], "unit": "s"},
        "pass_s": {"value": pass_s, "unit": "s"},
        "rows_per_s": {"value": rows_per_s, "unit": "1/s"},
        "rss_peak_mb": {"value": raw["jvm"]["rss_peak_mb"], "unit": "MB"},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir)

    w = WORKLOADS[args.workload]
    spec = dict(w["gen"], ops=w["ops"], passes=PASSES_PLANNED)
    data_dir, manifest = gen.generate(os.path.join(STATE, "data"), args.seed, spec)
    log(f"inputs for seed {args.seed}: {manifest['rows']} "
        f"({'cached; ' if manifest['cached'] else ''}generated in {manifest['gen_s']:.2f} s)")
    orders = [[x for op in order for x in (PIPELINE if op == "curate" else [op])]
              for order in manifest["op_orders"]]

    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    plan = {"workload": args.workload, "data_dir": data_dir, "work_dir": work,
            "cores": len(os.sched_getaffinity(0)), "seconds": args.seconds, "trace": bool(args.trace),
            "op_orders": orders,
            "params": dict(w["params"], open_rows_per_file=manifest["rows"].get("open_rows_per_file", 0))}
    try:
        raw = run_jvm(classes, plan, work, DEADLINE_S - (time.monotonic() - t_start) - 10)
        fails, n_checked, kept = run_checks(args.workload, data_dir, raw)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    log(f"set-up: session {raw['setup']['create_s']:.2f} s + warm pass {raw['setup']['warm_s']:.2f} s")
    log("passes (s): " + ", ".join(f"{p['wall_s']:.2f}" for p in raw["untraced"]))
    ops = all_ops(raw)
    errors = [o for o in ops if not o["ok"]]
    for f in fails:
        log(f"CHECK FAILED {f}")
    for o in errors[:5]:
        log(f"OP FAILED {o['op']}: {o.get('error')}")
    log(f"checked {n_checked} outputs, {len(fails)} wrong; {len(ops)} ops run, {len(errors)} failed")

    failed = len(errors) + len(fails)
    attempted = len(ops) + n_checked
    if args.trace:
        metrics, report = layers.per_layer(args.workload, manifest, raw, kept, failed / attempted)
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        trace_path = os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"report": report, "spans": raw["spans"], "traced": raw["traced"]}, f)
        log(f"layer self-times (s per pass): {json.dumps(report['self_times'])}")
        log(f"trace written to {os.path.relpath(trace_path, ROOT)}")
    else:
        metrics = end_to_end(manifest, raw)
    print(json.dumps({"correct": not fails and not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
