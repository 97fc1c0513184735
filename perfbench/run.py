#!/usr/bin/env python3
"""Benchmark of the graft engine: one closed-loop workload per call.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first call builds the product and
the benchmark (perfbench/build.py) and generates the input tables; later
calls reuse both. Each call runs the workload in a fresh JVM against a
local[N] session, N = the CPUs this process may use, with one client
thread. It prints the settings and counts on one line, then, as the last
line, one JSON object: with --trace 0 the end-to-end metrics, with
--trace 1 the per-layer metrics of a traced run. An op whose output is
wrong counts as failed and makes `correct` false.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

# Tables the workloads read, by scale factor (lineitem = 6M rows x sf).
DATA_SF = {"etl_daily": "0.1", "llm_kernels": "0.01"}
# The kernel tier of the traced llm_kernels run reads the sf0.1 tables.
KERNEL_SF = "0.1"
WORKLOADS = tuple(DATA_SF)
JVM_TIMEOUT_S = 170
GEN_TIMEOUT_S = 600

END_TO_END = {  # name -> unit
    "setup_s": "s", "first_op_s": "s", "wall_s": "s", "op_p50_s": "s",
    "op_p90_s": "s", "rows_per_s": "rows/s", "heap_live_peak_mb": "MB",
}

PER_LAYER = {  # name -> unit
    "pipeline.plan_s": "s", "pipeline.count_s": "s",
    "pipeline.cached_bytes": "bytes",
    "sink.delete_s": "s", "sink.append_s": "s", "sink.rows_written": "count",
    "ops.scan_rows": "count", "ops.scan_selectivity": "ratio",
    "ops.scan_bytes": "bytes",
    "queries.build_s": "s",
    "spark.plan_s": "s", "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count", "spark.exchanges": "count",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.gc_s": "s", "spark.task_cpu_s": "s", "spark.cpu_util": "ratio",
    "spark.stage_skew": "ratio",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "functions.MinHashSig.ns_per_row": "ns",
    "functions.GramHashes.ns_per_row": "ns",
    "functions.SimHash64.ns_per_row": "ns",
    "functions.SortedIntersectSize.ns_per_row": "ns",
    "functions.FloatCosine.ns_per_row": "ns",
    "functions.JaroWinkler.ns_per_row": "ns",
    "functions.WinnowPrints.ns_per_row": "ns",
    "functions.TokensOf.ns_per_row": "ns",
    "streaming.batch_s": "s", "streaming.query_planning_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.get_batch_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_memory_bytes": "bytes",
    "streaming.late_rows_dropped": "count", "streaming.dup_drop_ratio": "ratio",
    "self.bench_s": "s", "self.main_s": "s", "self.pipeline_s": "s",
    "self.sink_s": "s", "self.queries_s": "s", "self.spark_s": "s",
    "trace.overhead_s": "s", "trace.span_coverage": "ratio",
}

SPAN_METRICS = {"pipeline.plan_s": "pipeline.plan",
                "pipeline.count_s": "pipeline.count",
                "sink.delete_s": "sink.delete", "sink.append_s": "sink.append",
                "queries.build_s": "queries.build"}

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap():
    """Half of MemTotal in GiB, clamped to [2, 8], as the repository's test
    command sizes the driver heap."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def jvm_cmd(cp, work, props, main_args):
    opts = ["-Xmx" + heap(), "-Xms" + heap(), "-XX:ReservedCodeCacheSize=512m",
            "-Djava.awt.headless=true", "-Djava.io.tmpdir=" + work + "/tmp",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dderby.stream.error.file=" + work + "/derby.log",
            "-Dperfbench.home=" + HERE]
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    opts += ["-D%s=%s" % kv for kv in props.items()]
    return ["java"] + opts + ["-cp", cp, "perfbench.Main"] + main_args


def spark_props(n, work):
    return {"spark.sql.shuffle.partitions": str(n),
            "spark.sql.session.timeZone": "UTC",
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            "spark.ui.enabled": "false",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.local.dir": work + "/spark-local",
            "spark.sql.warehouse.dir": work + "/warehouse",
            "spark.hadoop.hadoop.tmp.dir": work + "/hadoop",
            "spark.sql.streaming.numRecentProgressUpdates": "1000"}


def run_jvm(cmd, log, timeout, env=None):
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def tail(path, n=3000):
    try:
        with open(path, errors="replace") as fh:
            return fh.read()[-n:]
    except OSError:
        return ""


def ensure_data(cp, sf):
    """Generate the tables once per scale factor and generator version."""
    root = os.path.join(build.OUT, "data")
    with open(os.path.join(HERE, "src", "perfbench", "Data.scala"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:16]
    data = os.path.join(root, f"sf{sf}-{version}")
    done = os.path.join(data, "COMPLETE")
    if os.path.isfile(done):
        return data
    shutil.rmtree(data, ignore_errors=True)
    work = os.path.join(root, "gen-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work + "/tmp")
    rc = run_jvm(jvm_cmd(cp, work, spark_props(2, work), ["gen", data, sf]),
                 os.path.join(root, "gen.log"), GEN_TIMEOUT_S)
    if rc != 0:
        raise build.BuildError("table generation failed:\n" +
                               tail(os.path.join(root, "gen.log")))
    open(done, "w").close()
    shutil.rmtree(work, ignore_errors=True)
    return data


def end_to_end(raw):
    ops = raw["ops"]
    lat = [o["lat_s"] for o in ops]
    walls = [p["wall_s"] for p in raw["passes"]]
    return {
        "setup_s": raw["setup_s"],
        "first_op_s": raw["first_op_s"],
        "wall_s": stats.median(walls),
        "op_p50_s": stats.percentile(lat, 0.5),
        "op_p90_s": stats.percentile(lat, 0.9),
        "rows_per_s": sum(o["rows"] for o in ops) / sum(walls),
        "heap_live_peak_mb": raw["heap_live_peak_mb"],
    }


def per_layer(raw):
    """Layer numbers of traced pass 1; overhead = traced pass 3 minus the
    mean of untraced passes 2 and 4."""
    first = {o["id"] for o in raw["ops"] if o["pass"] == 1}
    spans = stats.spans_of_ops(raw["spans"], first)
    wall = {p["pass"]: p["wall_s"] for p in raw["passes"]}
    out = {k: 0.0 for k in PER_LAYER}
    out.update({k: v for k, v in raw["layers"].items() if k in PER_LAYER})
    for metric, span in SPAN_METRICS.items():
        out[metric] = stats.span_median_s(spans, span)
    for layer, s in stats.per_op_layer_self_s(spans).items():
        if f"self.{layer}_s" in out:
            out[f"self.{layer}_s"] = s
    out["trace.overhead_s"] = wall[3] - (wall[2] + wall[4]) / 2
    out["trace.span_coverage"] = stats.span_coverage(spans)
    return out


def summarize(raw, trace):
    ops = raw["ops"]
    failed = sum(1 for o in ops if not o["ok"]) + raw["warmup_failed"]
    attempted = len(ops) + raw["warmup_ops"]
    values = per_layer(raw) if trace else end_to_end(raw)
    units = PER_LAYER if trace else END_TO_END
    n = len(ops)
    info = {"workload": raw["workload"], "seed": raw["seed"],
            "cores": raw["cores"], "shuffle_partitions": raw["cores"],
            "heap_max_mb": raw["heap_max_mb"], "clients": 1,
            "timed_ops": n, "passes": len(raw["passes"]),
            "samples_beyond_p90": stats.samples_beyond(n, 0.9),
            "warmup_ops": raw["warmup_ops"],
            "warmup_failed": raw["warmup_failed"],
            "ops_failed": failed, "ops_attempted": attempted,
            "ops_failed_ratio": stats.failed_ratio(failed, attempted),
            "check_failures": raw["failures"][:5],
            "known_mismatches": raw["known_mismatches"]}
    result = {"correct": failed == 0 and not raw["failures"],
              "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}
    return info, result


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if a.seconds < 1:
        print("--seconds must be at least 1", file=sys.stderr)
        return 2
    try:
        cp = build.ensure_built()
        # every scale factor is generated on the first call, so later
        # calls spend no time on it
        datas = {sf: ensure_data(cp, sf) for sf in sorted({*DATA_SF.values(), KERNEL_SF})}
        data, kernel_data = datas[DATA_SF[a.workload]], datas[KERNEL_SF]
    except (build.BuildError, subprocess.TimeoutExpired, OSError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1
    work = os.path.join(build.OUT, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work + "/tmp")
    raw_file = os.path.join(work, "raw.json")
    n = cores()
    env = dict(os.environ, SPARK_MASTER=f"local[{n}]")
    cmd = jvm_cmd(cp, work, spark_props(n, work),
                  ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
                   str(n), work, data, kernel_data, raw_file])
    log = os.path.join(build.OUT, "jvm.log")
    t0 = time.time()
    rc = run_jvm(cmd, log, JVM_TIMEOUT_S, env)
    if rc != 0 or not os.path.isfile(raw_file):
        why = "timed out" if rc is None else f"exited {rc}"
        print(f"benchmark JVM {why} after {time.time() - t0:.0f} s:\n{tail(log)}",
              file=sys.stderr)
        return 1
    with open(raw_file) as fh:
        raw = json.load(fh)
    if a.trace:
        shutil.copy(raw_file, os.path.join(build.OUT, f"trace-{a.workload}.json"))
    info, result = summarize(raw, a.trace)
    print("settings " + json.dumps(info, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
