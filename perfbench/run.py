#!/usr/bin/env python3
"""graft's benchmark: one seeded workload, measured for a fixed window.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the runner (graft's
main sources plus perfbench/src) with sbt; later runs fork the JVM
directly. The JVM writes raw samples; this script turns them into the
metrics named in BENCHMARK.json and prints them, the last line being one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see perfbench/README.md). Exits non-zero when any
correctness check fails.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import benchstats as bs  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("bulk_import", "many_tables", "lake_dml", "curate_dedup")
JVM_TIMEOUT_S = 165
MIB = 1024.0 * 1024.0

# End-to-end metrics, measured with tracing off: (name, unit).
END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("cpu_s", "s"),
    ("peak_heap_mib", "MiB"),
    ("ok_rate", "ratio"),
    ("input_mib_per_s", "MiB/s"),
    ("items_per_s", "1/s"),
    ("op_p50_ms", "ms"),
    ("op_tail_ms", "ms"),
]

LAKE_KINDS = ("insert", "update", "delete", "merge", "select_point",
              "select_agg", "time_travel", "optimize", "vacuum")
CURATE_OPS = ("exact", "minhash_sigs", "minhash_pairs", "semdedup",
              "ivfpq_index", "ivfpq_probe")

# Per-layer metrics of the traced run: (name, unit, end-to-end metric it
# should move, workload it shows on).
PER_LAYER = [
    ("sources.discover_s", "s", "wall_s", "bulk_import"),
    ("sources.ddl_s", "s", "wall_s", "bulk_import"),
    ("sources.sqldump_parse.self_s", "s", "input_mib_per_s", "bulk_import"),
    ("sources.csv_parse.self_s", "s", "input_mib_per_s", "bulk_import"),
    ("operators.schema_align.self_s", "s", "input_mib_per_s", "bulk_import"),
    ("operators.rowid.self_s", "s", "input_mib_per_s", "bulk_import"),
    ("operators.kv_checksum.self_s", "s", "cpu_s", "bulk_import"),
    ("sinks.parquet_write.self_s", "s", "input_mib_per_s", "bulk_import"),
    ("sinks.parquet_write.bytes", "B", "input_mib_per_s", "bulk_import"),
    ("sinks.stored_bytes_per_input_byte", "ratio", "input_mib_per_s",
     "bulk_import"),
    ("sinks.commit_log.s", "s", "wall_s", "bulk_import"),
    ("sinks.commit_log.fs_bytes_written", "B", "wall_s", "bulk_import"),
    ("pipeline.run_s", "s", "wall_s", "bulk_import"),
    ("pipeline.overhead_s", "s", "wall_s", "bulk_import"),
    ("pipeline.jobs_per_table", "count", "wall_s", "bulk_import"),
    ("pipeline.driver_only_share", "ratio", "wall_s", "bulk_import"),
]
for _k in LAKE_KINDS:
    PER_LAYER += [
        ("lake.%s.p50_ms" % _k, "ms", "op_p50_ms", "lake_dml"),
        ("lake.%s.jobs" % _k, "count", "op_p50_ms", "lake_dml"),
        ("lake.%s.driver_only_s" % _k, "s", "op_p50_ms", "lake_dml"),
        ("lake.%s.driver_fs_read_bytes" % _k, "B", "op_p50_ms", "lake_dml"),
        ("lake.%s.bytes_written" % _k, "B", "op_tail_ms", "lake_dml"),
    ]
PER_LAYER += [
    ("plans.parse_ms", "ms", "op_p50_ms", "lake_dml"),
    ("lake.snapshot_files_ms", "ms", "op_p50_ms", "lake_dml"),
    ("lake.manifest_bytes_per_commit", "B", "op_p50_ms", "lake_dml"),
    ("lake.files_at_head", "count", "op_tail_ms", "lake_dml"),
    ("lake.stored_bytes_per_input_byte", "ratio", "wall_s", "lake_dml"),
]
for _k in CURATE_OPS:
    PER_LAYER += [
        ("curate.%s.s" % _k, "s", "items_per_s", "curate_dedup"),
        ("curate.%s.executor_cpu_s" % _k, "s", "cpu_s", "curate_dedup"),
        ("curate.%s.cpu_per_wall" % _k, "ratio", "items_per_s",
         "curate_dedup"),
        ("curate.%s.shuffle_bytes" % _k, "B", "items_per_s", "curate_dedup"),
        ("curate.%s.jobs" % _k, "count", "items_per_s", "curate_dedup"),
    ]
PER_LAYER += [
    ("curate.minhash_pairs.precision", "ratio", "items_per_s",
     "curate_dedup"),
    ("curate.dup_recall", "ratio", "items_per_s", "curate_dedup"),
    ("trace.overhead_s", "s", "wall_s", "all"),
]

LAYER_NAMES = {n for n, _, _, _ in PER_LAYER}

# Spans whose self time is one pipeline stage, in chain order.
STAGES = ("sources.discover", "sources.ddl", "sources.sqldump_parse",
          "sources.csv_parse", "operators.schema_align", "operators.rowid",
          "operators.kv_checksum", "sinks.parquet_write", "sinks.commit_log")


def fail(msg, code=2):
    sys.stderr.write("perfbench: %s\n" % msg)
    sys.exit(code)


# ----------------------------------------------------------------- build

def sources_newest(root):
    newest = 0.0
    for d in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(d):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def ensure_built(root, log_dir):
    """Builds the runner when a source is newer than the last build.
    Returns (classpath, jvm options)."""
    launch = os.path.join(HERE, "target", "launch")
    cp_file = os.path.join(launch, "classpath")
    if (not os.path.exists(cp_file)
            or os.path.getmtime(cp_file) < sources_newest(root)):
        log = os.path.join(log_dir, "build.log")
        with open(log, "w") as out:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(cp_file):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            fail("build failed (log: %s)" % log, 3)
    with open(cp_file) as f:
        cp = f.read().strip()
    with open(os.path.join(launch, "jvm-options")) as f:
        opts = [l for l in f.read().split("\n") if l]
    return cp, opts


# ------------------------------------------------------------ the JVM run

def run_jvm(args, cp, opts, work, raw):
    cores = max(1, min(4, os.cpu_count() or 1))
    tmp = os.path.join(work, "tmp")  # native libraries unpack here
    os.makedirs(tmp, exist_ok=True)
    # a fixed 64 MiB young generation makes the collector run every 64 MiB
    # allocated, so the heap in use after a collection (peak_heap_mib) is
    # sampled that densely, not whenever G1's adaptive sizing collects
    cmd = ["java"] + opts + ["-Xmn64m", "-Djava.io.tmpdir=" + tmp, "-cp", cp,
                             "perfbench.Main",
                             "--workload", args.workload,
                             "--seed", str(args.seed),
                             "--seconds", str(args.seconds),
                             "--trace", str(args.trace),
                             "--work", work, "--out", raw,
                             "--cores", str(cores)]
    if os.path.exists(raw):
        os.remove(raw)
    env = dict(os.environ, LC_ALL="C.UTF-8")
    log = os.path.join(os.path.dirname(work), "jvm-%s.log" % args.workload)
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("runner timed out after %d s (log: %s)" % (JVM_TIMEOUT_S, log), 4)
    if rc != 0 or not os.path.exists(raw):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("runner exited with %d (log: %s)" % (rc, log), 5)
    with open(raw) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def end_to_end(passes):
    untraced = [p for p in passes if not p["traced"]]
    # a pass that threw has no ops; its failure is already counted
    ops = [ms for p in untraced for _, ms in p["ops"]] or [0.0]
    p_tail, v_tail = bs.tail(ops)
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    m = {
        "setup_s": bs.median([p["setup_s"] for p in passes]),
        "wall_s": bs.median([p["wall_s"] for p in untraced]),
        "cpu_s": bs.median([p["cpu_s"] for p in untraced]),
        "peak_heap_mib": bs.median([p["peak_heap_bytes"] / MIB
                                    for p in untraced]),
        "ok_rate": (attempted - failed) / float(attempted),
        "input_mib_per_s": bs.median([p["input_bytes"] / MIB / p["wall_s"]
                                      for p in untraced]),
        "items_per_s": bs.median([p["items"] / p["wall_s"] for p in untraced]),
        "op_p50_ms": bs.median(ops),
        "op_tail_ms": v_tail,
    }
    note = "op_tail_ms is p%d of %d op samples" % (round(p_tail * 100), len(ops))
    return m, note


def subtrees(spans):
    """A function from span id to the ids of it and its descendants."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])

    def subtree(i):
        out, todo = [], [i]
        while todo:
            j = todo.pop()
            out.append(j)
            todo.extend(kids.get(j, []))
        return out
    return subtree


def layers_of_pass(p):
    """Per-layer metrics of one traced pass."""
    spans, jobs = p.get("spans", []), p.get("jobs", [])
    subtree = subtrees(spans)
    jobs_by_span = {}
    for j in jobs:
        jobs_by_span.setdefault(j["span"], []).append(j)

    def wall_s(s):
        return (s["end_ms"] - s["start_ms"]) / 1e3

    def span_jobs(s):
        return [j for i in subtree(s["id"]) for j in jobs_by_span.get(i, [])]

    def job_ivs(js):
        return [(j["start_ms"], j["end_ms"]) for j in js if j["end_ms"] >= 0]

    def named(n):
        return [s for s in spans if s["name"] == n]

    m = {}
    # stage self times: a stage span covers its whole prefix of the
    # chain, so its self time is its wall minus the previous stage's
    chain = {}
    for s in spans:
        st = s["attrs"].get("stage")
        if st is not None:
            chain[(s["attrs"]["table"], st)] = s
    stage_self = {}
    for (table, st), s in chain.items():
        prev = chain.get((table, st - 1))
        self_s = wall_s(s) - (wall_s(prev) if prev else 0.0)
        stage_self[s["name"]] = stage_self.get(s["name"], 0.0) + max(0.0, self_s)
    for n in ("sources.discover", "sources.ddl", "sinks.commit_log"):
        stage_self[n] = sum(wall_s(s) for s in named(n))
    m["sources.discover_s"] = stage_self["sources.discover"]
    m["sources.ddl_s"] = stage_self["sources.ddl"]
    for n in ("sources.sqldump_parse", "sources.csv_parse",
              "operators.schema_align", "operators.rowid",
              "operators.kv_checksum", "sinks.parquet_write"):
        m[n + ".self_s"] = stage_self.get(n, 0.0)
    m["sinks.parquet_write.bytes"] = sum(
        j["output_bytes"] for s in named("sinks.parquet_write")
        for j in span_jobs(s))
    m["sinks.commit_log.s"] = stage_self["sinks.commit_log"]
    # the local FileSystem counts bytes, not operations
    m["sinks.commit_log.fs_bytes_written"] = sum(
        s["fs"]["bytes_written"] for s in named("sinks.commit_log"))
    run = named("pipeline.run")
    if run:
        r = run[0]
        tables = max(1, p.get("extra", {}).get("tables", 1))
        m["pipeline.run_s"] = wall_s(r)
        m["pipeline.overhead_s"] = wall_s(r) - sum(
            v for k, v in stage_self.items() if k in STAGES)
        m["pipeline.jobs_per_table"] = len(span_jobs(r)) / float(tables)
        m["pipeline.driver_only_share"] = bs.driver_only(
            (r["start_ms"], r["end_ms"]), job_ivs(span_jobs(r))) / 1e3 / wall_s(r)
        if p["input_bytes"]:
            m["sinks.stored_bytes_per_input_byte"] = (
                p["stored_bytes"] / float(p["input_bytes"]))
    for k in LAKE_KINDS:
        ss = named("lake." + k)
        if not ss:
            continue
        m["lake.%s.p50_ms" % k] = bs.median([wall_s(s) * 1e3 for s in ss])
        m["lake.%s.jobs" % k] = bs.median([len(span_jobs(s)) for s in ss])
        m["lake.%s.driver_only_s" % k] = bs.median([
            bs.driver_only((s["start_ms"], s["end_ms"]),
                           job_ivs(span_jobs(s))) / 1e3 for s in ss])
        # read by the client thread: the driver's own file reads, not
        # the tasks' input
        m["lake.%s.driver_fs_read_bytes" % k] = bs.median(
            [s["thread_fs"]["bytes_read"] for s in ss])
        m["lake.%s.bytes_written" % k] = bs.median(
            [s["fs"]["bytes_written"] for s in ss])
    for k in CURATE_OPS:
        ss = named("curate." + k)
        if not ss:
            continue
        w = sum(wall_s(s) for s in ss)
        js = [j for s in ss for j in span_jobs(s)]
        m["curate.%s.s" % k] = w
        m["curate.%s.executor_cpu_s" % k] = sum(
            j["executor_cpu_ns"] for j in js) / 1e9
        m["curate.%s.cpu_per_wall" % k] = (
            sum(s["proc_cpu_ns"] for s in ss) / 1e9 / w if w else 0.0)
        m["curate.%s.shuffle_bytes" % k] = sum(j["shuffle_bytes"] for j in js)
        m["curate.%s.jobs" % k] = len(js)
    # layer numbers the workload measured itself, during or after the pass
    for src in (p.get("extra", {}), p.get("layers", {})):
        for k, v in src.items():
            if k in LAYER_NAMES and isinstance(v, (int, float)):
                m[k] = v
    return m


def per_layer(passes):
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    per_pass = [layers_of_pass(p) for p in traced]
    m = {}
    for name, _, _, _ in PER_LAYER:
        vals = [pp[name] for pp in per_pass if name in pp]
        m[name] = bs.median(vals) if vals else 0.0
    m["trace.overhead_s"] = (bs.median([p["wall_s"] for p in traced])
                             - bs.median([p["wall_s"] for p in untraced]))
    return m


def fmt(v):
    return "%.6g" % v if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout: src/main/scala/graft "
             "is missing")
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    cp, opts = ensure_built(root, build_dir)
    work = os.path.join(build_dir, "work-%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    raw_file = os.path.join(build_dir, "raw-%s.json" % args.workload)
    try:
        raw = run_jvm(args, cp, opts, work, raw_file)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    passes = raw["passes"]
    measured = [p for p in passes if not p["warmup"]]
    failures = [f for p in passes for f in p["check_failures"]]
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    correct = not failures and failed == 0

    clk = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
    for p in passes:
        ext = bs.external_cpu_s(p["box_jiffies"], clk, p["cpu_s"])
        print("pass %2d %-7s setup %.3f s  wall %.3f s  cpu %.3f s  "
              "external cpu %s s  gc %.3f s  jit %.3f s  classes %d  "
              "check %.3f s%s" % (
                  p["index"], "warm-up" if p["warmup"] else
                  ("traced" if p["traced"] else "timed"),
                  p["setup_s"], p["wall_s"], p["cpu_s"],
                  "n/a" if ext is None else "%.2f" % ext, p["gc_s"],
                  p["jit_s"], p["classes_loaded"],
                  p.get("check_s", 0.0),
                  "" if not p["check_failures"] else
                  "  FAILED: " + "; ".join(p["check_failures"])))
    print("local[%d], session start %.3f s, run %.1f s, %d measured passes, "
          "host calibration loop %.1f ms" % (
              raw["cores"], raw["session_s"], time.time() - t0, len(measured),
              raw["calibration_ms"]))

    if args.trace:
        values = per_layer(measured)
        units = {n: u for n, u, _, _ in PER_LAYER}
        for n, u, moves, on in PER_LAYER:
            print("%-42s %14s %-6s -> %s on %s" % (n, fmt(values[n]), u, moves, on))
        if values["pipeline.run_s"]:
            stages = sum(values[n] for n in values
                         if n.endswith(".self_s") or n in (
                             "sources.discover_s", "sources.ddl_s",
                             "sinks.commit_log.s"))
            untraced = bs.median([p["wall_s"] for p in measured
                                  if not p["traced"]])
            print("stage self times %.3f s + pipeline.overhead_s %.3f s = "
                  "%.3f s; untraced wall_s %.3f s; tracing overhead %.3f s" % (
                      stages, values["pipeline.overhead_s"],
                      stages + values["pipeline.overhead_s"], untraced,
                      values["trace.overhead_s"]))
    else:
        values, note = end_to_end(measured)
        units = dict(END_TO_END)
        for n, u in END_TO_END:
            print("%-20s %14s %s" % (n, fmt(values[n]), u))
        print(note)
    for f in failures:
        print("check failed: %s" % f)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
