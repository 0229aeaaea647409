#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft Spark library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the library and the harness from
source (`build.py`, cached under $CARGO_TARGET_DIR), generates
the workload's inputs, runs one JVM on `local[<cores>]` with one
closed-loop client, checks every op's output fingerprint against
`perfbench/expected.json`, and prints one JSON result as the last line of
stdout. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer ones. Every artifact lives under a fresh run root inside the
checkout, deleted at exit.

Extra options: `--spans-out FILE` keeps the traced run's spans;
`--record` rewrites the workload's expected fingerprints from this run.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
from build import build, log, spark_jars  # noqa: E402

WORKLOADS = {
    # scale factor of the generated tables; `csv` lists the tables exported
    # as seed-shuffled CSV for the ETL ops
    "reference_etl": {"sf": 0.01, "csv": ["customer", "supplier", "part",
                                          "orders", "lineitem", "events"]},
    "ext_curate": {"sf": 0.01},
}
MODULES = ["queries.Reference", "ext.Dedup", "ops.Triangles", "ops.PageRank",
           "ext.Percentiles", "ops.Stats", "ext.TextStats", "ext.LangModel",
           "ext.Decontaminate", "ext.Drift", "ops.Splits", "ext.Packing",
           "ext.Similarity", "ext.Multimodal", "ingest.IngestJob",
           "catalog.Ddl", "ops.Layout"]
# engine-layer counters summed over a pass's ops; the rest take the max
SUMMED = ["catalyst.plan_s", "catalyst.plan_nodes", "eager.build_s",
          "eager.jobs", "scheduler.jobs", "scheduler.stages",
          "scheduler.tasks", "scheduler.delay_s", "scan.input_bytes",
          "exchange.shuffle_write_bytes", "exchange.fetch_wait_s",
          "compute.task_cpu_s", "compute.gc_s", "memory.spill_bytes"]
MAXED = ["memory.peak_task_mem_bytes", "cache.bytes_left"]
ETL_MODULES = ["ingest.IngestJob", "catalog.Ddl", "ops.Layout"]
TAIL_GRID = [0.99, 0.95, 0.9, 0.75, 0.5]
# the JVM's time budget beyond `--seconds` (the last pass may start just
# before the deadline)
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def stage_inputs(workload, run_root, seed):
    """Generates the workload's inputs under the run root. Returns
    (data dir, CSV bytes)."""
    cfg = WORKLOADS[workload]
    tables = gen.build(cfg["sf"])
    data = os.path.join(run_root, "data")
    gen.write_parquet(tables, data)
    csv_bytes = 0
    if "csv" in cfg:
        csv_bytes = gen.write_csv(tables, cfg["csv"], os.path.join(data, "csv"), seed)
    return data, csv_bytes


def java(classes, run_root, timeout, main_class, *args):
    """Runs `main_class` of the harness in a JVM whose temporary files all
    stay under `run_root`, for at most `timeout` seconds; exits with the
    log tail if it fails. The JVM never outlives this call."""
    jars_dir, _ = spark_jars()
    # fixed heap and young-generation sizes: G1's adaptive sizing follows
    # measured pause times, which made the touched heap (peak RSS) follow
    # the machine's load
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_root}/tmp",
            f"-Dderby.system.home={run_root}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars_dir}/*", main_class] + [str(a) for a in args])
    os.makedirs(os.path.join(run_root, "tmp"), exist_ok=True)
    log_path = os.path.join(run_root, "jvm.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=run_root)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        sys.exit(f"harness JVM failed ({rc})")


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f]


def tail(values):
    """Highest percentile of TAIL_GRID with at least 10 samples beyond it
    (nearest rank), or the maximum when there are too few samples for any.
    Returns (value, percentile, n)."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_GRID:
        if n * (1 - p) >= 10:
            return xs[math.ceil(p * n) - 1], p, n
    return xs[-1], 1.0, n


def check(records, workload, record):
    """Compares every op's fingerprint with the expected one. Returns
    (attempted, failed)."""
    path = os.path.join(HERE, "expected.json")
    expected = json.load(open(path)) if os.path.exists(path) else {}
    want = expected.get(workload, {})
    ops = [r for r in records if r["kind"] == "op"]
    if record:
        got = {}
        for r in ops:
            if got.setdefault(r["op"], r["fp"]) != r["fp"]:
                log(f"op {r['op']} is not deterministic: {got[r['op']]} vs {r['fp']}")
        expected[workload] = dict(sorted(got.items()))
        with open(path, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
        want = expected[workload]
    failed = 0
    for r in ops:
        if r["error"] or r["fp"] != want.get(r["op"]):
            failed += 1
            log(f"FAILED {r['op']} (pass {r['pass']}): {r['error'] or r['fp']} "
                f"expected {want.get(r['op'])}")
    return len(ops), failed


def pass_sums(records, key="latency_s"):
    """Per pass, the sum of `key` over its ops. For latency that is the time
    the client waited on the program (between-op cache clearing and checks
    are excluded); for `cpu_s` the JVM's CPU time during the ops."""
    sums = {}
    for r in records:
        if r["kind"] == "op":
            sums[r["pass"]] = sums.get(r["pass"], 0.0) + r[key]
    return [sums[p] for p in sorted(sums)]


def end_to_end(records, setup_s):
    ops = [r for r in records if r["kind"] == "op"]
    passes = pass_sums(records)
    lat = [r["latency_s"] for r in ops]
    tail_v, tail_p, n = tail(lat)
    log(f"{len(passes)} passes, {n} ops; op_tail_s is p{round(tail_p * 100)} of {n} ops")
    end = next(r for r in records if r["kind"] == "end")
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(passes), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail_v, "s"),
        "cpu_s": (statistics.median(pass_sums(records, "cpu_s")), "s"),
        "peak_rss_mb": (end["vmhwm_kb"] / 1024.0, "MB"),
    }


def per_layer(records, csv_bytes, failed, attempted):
    """Per-pass totals of each layer counter, median over the run's passes."""
    ops = [r for r in records if r["kind"] == "op"]
    passes = sorted({r["pass"] for r in ops})
    med = statistics.median

    def per_pass(passes, f):
        return med([f([r for r in ops if r["pass"] == p]) for p in passes])

    m = {}
    for k in SUMMED:
        m[k] = (per_pass(passes, lambda rs: sum(r["layers"].get(k, 0.0) for r in rs)), None)
    for k in MAXED:
        m[k] = (per_pass(passes, lambda rs: max(r["layers"].get(k, 0.0) for r in rs)), None)
    for mod in MODULES:
        m[f"{mod}.latency_s"] = (per_pass(passes, lambda rs: sum(
            r["latency_s"] for r in rs if r["module"] == mod)), "s")
        m[f"{mod}.calls"] = (per_pass(passes, lambda rs: sum(
            1 for r in rs if r["module"] == mod)), "count")

    def op_layer(op, key, src="layers"):
        return per_pass(passes, lambda rs: sum(r[src].get(key, 0.0) for r in rs if r["op"] == op))

    wall = med(pass_sums(records))
    etl = per_pass(passes, lambda rs: sum(
        r["latency_s"] for r in rs if r["module"] in ETL_MODULES))
    m["ingest.infer_s"] = (op_layer("csv_to_parquet", "site.call:csv"), "s")
    m["ingest.write_s"] = (op_layer("csv_to_parquet", "site.call:parquet"), "s")
    m["ingest.files_written"] = (sum(op_layer(o, "files", "extra") for o in (
        "csv_to_parquet", "write_partitioned", "compact")), "count")
    m["layout.compact_files_in"] = (op_layer("compact", "files_in", "extra"), "count")
    m["layout.compact_files_out"] = (op_layer("compact", "files_out", "extra"), "count")
    written = sum(op_layer(o, "bytes", "extra") for o in (
        "csv_to_parquet", "write_partitioned", "compact"))
    m["ingest.mb_per_s"] = (csv_bytes / 1e6 / etl if csv_bytes else 0.0, "MB/s")
    m["ingest.write_amp"] = (written / csv_bytes if csv_bytes else 0.0, "ratio")
    m["ops.failed_frac"] = (failed / attempted, "ratio")
    m["trace.wall_s"] = (wall, "s")
    m["trace.phase_sum_s"] = (per_pass(passes, lambda rs: sum(
        sum(r["phases"].values()) for r in rs)), "s")
    out = {}
    for k, (v, unit) in m.items():
        unit = unit or ("s" if k.endswith("_s") else "bytes" if "bytes" in k else "count")
        out[k] = (float(v), unit)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    # a SIGTERM unwinds like an error: the JVM is killed and the run root removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    root = os.getcwd()
    classes = build(root)
    t_setup = time.time()
    run_root = os.path.join(root, ".bench_run", uuid.uuid4().hex)
    os.makedirs(run_root)
    try:
        data, csv_bytes = stage_inputs(a.workload, run_root, a.seed)
        java(classes, run_root, a.seconds + JVM_TIMEOUT_S - (time.time() - t_setup),
             "perfbench.Harness",
             a.workload, data, run_root, a.seed, a.seconds, a.trace)
        records = read_jsonl(os.path.join(run_root, "result.jsonl"))
        timed = next(r for r in records if r["kind"] == "timed")
        setup_s = timed["first_op_ms"] / 1000.0 - t_setup
        attempted, failed = check(records, a.workload, a.record)
        if a.trace:
            metrics = per_layer(records, csv_bytes, failed, attempted)
        else:
            metrics = end_to_end(records, setup_s)
        if a.spans_out:
            shutil.copy(os.path.join(run_root, "spans.jsonl"), a.spans_out)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".bench_run"))
        except OSError:
            pass
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
