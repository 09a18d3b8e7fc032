"""Benchmark entry point.

    python3 perfbench/run.py --workload {etl_pipelines,lake_cdc,curation_queries}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Generates the seeded inputs under
`.perfbench_work/` (cached per seed), sets the workload up three times
(session start plus the workload's state) and reports the median plus
the one warm-up pass, runs one closed-loop client for S
seconds, verifies every output outside the timed region, and prints one
JSON object as the last line of stdout. `--trace 1` prints the per-layer
metrics instead; see perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

# Fails (non-zero exit, nothing printed) when the package is not here.
from data_pipeline_platform_spark.config.settings import Settings  # noqa: E402
from data_pipeline_platform_spark.session import get_spark  # noqa: E402

from perfbench import gen, trace  # noqa: E402
from perfbench.workloads import ROSTER, WORKLOADS  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
CORES = len(os.sched_getaffinity(0))
SETUP_REPS = 3
HEAP = "1g"

END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s",
    "peak_rss_mb": "MB",
}

LAYERS = ("plans.runner", "sources.readers", "operators", "sinks.writers", "sinks.acid",
          "sinks.matview", "functions", "utils.cache")
_CALL = ("calls", "count"), ("busy_s", "s"), ("jobs", "count")
PER_LAYER = {
    **{f"plans.runner.run.{k}": u for k, u in _CALL + (("self_s", "s"),)},
    **{f"plans.runner.{s}.self_s": "s" for s in ("ingest_stage", "transform_stage", "persist_stage")},
    **{f"sources.readers.{k}": u for k, u in _CALL},
    "sources.readers.input_bytes": "bytes", "sources.readers.input_rows": "rows",
    **{f"operators.{k}.busy_s": "s" for k in ("sql", "config", "code")},
    **{f"sinks.writers.{k}.busy_s": "s" for k in gen.STRATEGIES},
    "sinks.writers.jobs": "count", "sinks.writers.rows_written": "rows",
    "sinks.writers.bytes_written": "bytes", "sinks.writers.files_written": "count",
    **{f"sinks.acid.{m}.{k}": u
       for m in ("merge", "delete", "compact_small", "read", "point_lookup", "changes")
       for k, u in _CALL},
    "sinks.acid.files_scanned": "count", "sinks.acid.files_pruned": "count",
    "sinks.acid.files_rewritten": "count", "sinks.acid.prune_ratio": "ratio",
    "sinks.acid.bytes_written": "bytes", "sinks.acid.live_files": "count",
    **{f"sinks.matview.update.{k}": u for k, u in _CALL},
    "sinks.acid.merge.jobs_per_call": "count", "sinks.matview.update.jobs_per_call": "count",
    "sinks.matview.groups_touched": "count", "sinks.matview.read.busy_s": "s",
    **{f"functions.{q}.{k}": u for q in ROSTER
       for k, u in (("busy_s", "s"), ("build_s", "s"), ("action_s", "s"), ("jobs", "count"))},
    "utils.cache.tracked_peak": "count",
    "lake.read_p50_s": "s", "lake.read_tail_s": "s", "lake.write_amp": "ratio",
    "lake.space_amp": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.task_wait_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.driver_gap_s": "s", "spark.core_use": "ratio",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.overhead_frac": "ratio",
}
SPARK_SUMS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "task_wait_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "input_bytes", "input_rows")


class _BenchSettings(Settings):
    """The package's Settings plus confs only the benchmark sets."""

    extra: dict = {}

    def spark_conf(self):
        conf = super().spark_conf()
        conf.update(self.extra)
        return conf


def new_session(name: str, event_log: str = None):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    s = _BenchSettings()
    s.spark_master = f"local[{CORES}]"
    s.driver_memory = HEAP
    s.warehouse_dir = os.path.join(WORK, "spark-warehouse")
    s.extra = {
        "spark.local.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
        # the whole heap is committed and touched at JVM start, so the
        # memory metric does not swing with when the collector runs
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch"),
        **(trace.eventlog_conf(event_log) if event_log else {}),
    }
    spark = get_spark(f"perfbench-{name}", settings=s)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm():
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    stop_session()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def timed_pass(wl, spark, seconds, tracer=None):
    """Closed loop, one client: the next op starts when the last ends.
    Stops at the first cycle boundary after `seconds`."""
    ledger = tracer.ledger if tracer else trace.JobLedger(spark)
    records = []
    t_start = time.perf_counter()
    deadline = t_start + seconds
    for kind, fn, primary in wl.ops():
        op_id = f"{wl.name}-{len(records)}"
        ledger.begin(op_id, kind)
        if tracer:
            tracer.op_id = op_id
        span = tracer.span(wl.span_prefix + kind) if tracer else contextlib.nullcontext()
        err = None
        t0 = time.perf_counter()
        try:
            with span:
                fn()
        except Exception as exc:  # a failed op is counted, the loop goes on
            err = f"{type(exc).__name__}: {str(exc)[:300]}"
        t1 = time.perf_counter()
        records.append({"op": op_id, "kind": kind, "primary": primary, "wall_s": t1 - t0,
                        "jobs": len(ledger.end()), "ok": err is None,
                        "error": err})
        if t1 >= deadline and wl.boundary():
            break
    return records, time.perf_counter() - t_start


def verify(wl, records):
    bad = wl.verify(records)
    for r in records:
        if r["op"] in bad:
            r["ok"] = False
            r["error"] = r["error"] or "verification mismatch"


def latency(records, elapsed):
    prim = [r["wall_s"] for r in records if r["primary"]]
    reads = [r["wall_s"] for r in records if not r["primary"]]
    t, pct, n = trace.tail(prim)
    out = {"ops_per_s": len(prim) / elapsed, "op_p50_s": statistics.median(prim),
           "op_tail_s": t, "tail_pct": pct, "n": n}
    if reads:
        rt, rpct, rn = trace.tail(reads)
        out.update({"read_p50_s": statistics.median(reads), "read_tail_s": rt,
                    "read_tail_pct": rpct, "read_n": rn})
    return out


def ledger_by_kind(records):
    out = {}
    for r in records:
        k = out.setdefault(r["kind"], {"ops": 0, "jobs": [], "wall_s": []})
        k["ops"] += 1
        k["jobs"].append(r["jobs"])
        k["wall_s"].append(r["wall_s"])
    return {kind: {"ops": v["ops"], "jobs_min": min(v["jobs"]), "jobs_max": max(v["jobs"]),
                   "jobs_total": sum(v["jobs"]), "p50_s": statistics.median(v["wall_s"])}
            for kind, v in out.items()}


def spark_metrics(records, groups):
    """Totals over the traced ops, plus the same split by op kind."""
    by_kind, total = {}, {}
    for r in records:
        g = groups.get(r["op"], {})
        wall = r["wall_s"]
        gap = wall - trace.union_s(g.get("windows_ms", []))
        for bucket in (total, by_kind.setdefault(r["kind"], {})):
            for k in SPARK_SUMS:
                bucket[k] = bucket.get(k, 0) + g.get(k, 0)
            bucket["driver_gap_s"] = bucket.get("driver_gap_s", 0.0) + max(0.0, gap)
            bucket["wall_s"] = bucket.get("wall_s", 0.0) + wall
    for bucket in [total, *by_kind.values()]:
        w = bucket.get("wall_s", 0.0)
        bucket["core_use"] = bucket.get("executor_run_s", 0) / (w * CORES) if w else 0.0
    return total, by_kind


def layer_metrics(wl, summary, counters, spark_total, lat, amp, overhead):
    def s(name, field):
        return summary.get(name, {}).get(field, 0)

    m = {k: 0 for k in PER_LAYER}
    for name, rec in summary.items():
        for field in ("calls", "busy_s", "jobs"):
            if f"{name}.{field}" in m:
                m[f"{name}.{field}"] = rec[field]
    m["plans.runner.run.self_s"] = s("plans.runner.run", "self_s")
    for st in ("ingest_stage", "transform_stage", "persist_stage"):
        m[f"plans.runner.{st}.self_s"] = s(f"plans.runner.{st}", "self_s")
    for name in ("sinks.acid.merge", "sinks.matview.update"):
        per_call = summary.get(name, {}).get("jobs_per_call")
        m[f"{name}.jobs_per_call"] = statistics.median(per_call) if per_call else 0
    m["sinks.writers.jobs"] = sum(s(f"sinks.writers.{k}", "jobs") for k in gen.STRATEGIES)
    for q in ROSTER:
        m[f"functions.{q}.build_s"] = s(f"functions.{q}.build", "busy_s")
        m[f"functions.{q}.action_s"] = s(f"functions.{q}.action", "busy_s")
    for layer in LAYERS:
        m[f"{layer}.self_s"] = sum(rec["self_s"] for name, rec in summary.items()
                                   if name == layer or name.startswith(layer + "."))
    if wl.name == "etl_pipelines":
        m["sources.readers.input_bytes"] = spark_total.get("input_bytes", 0)
        m["sources.readers.input_rows"] = spark_total.get("input_rows", 0)
    m.update(counters)
    for k in (*SPARK_SUMS[:-2], "driver_gap_s", "core_use"):
        m[f"spark.{k}"] = spark_total.get(k, 0)
    if "read_p50_s" in lat:
        m["lake.read_p50_s"] = lat["read_p50_s"]
        m["lake.read_tail_s"] = lat["read_tail_s"]
    if amp:
        m["lake.write_amp"] = amp["write_amp"]
        m["lake.space_amp"] = amp["space_amp"]
        m["sinks.acid.bytes_written"] = amp["bytes_written"]
    m["trace.overhead_frac"] = overhead
    return m


def run_pass(wl, spark, seconds, tracer=None):
    before = wl.files_now()
    records, elapsed = timed_pass(wl, spark, seconds, tracer)
    amp = wl.amplification(before)
    verify(wl, records)
    return records, elapsed, amp


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="input scale (1.0 = sf0.01 row counts); default per workload")
    ap.add_argument("--inject-mismatch", action="store_true",
                    help="corrupt one expected result, to test the verifier")
    args = ap.parse_args(argv)

    cls = WORKLOADS[args.workload]
    scale = args.scale if args.scale is not None else cls.scale
    os.makedirs(WORK, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    inputs_root = os.path.join(WORK, "inputs")
    key = f"seed{args.seed}-scale{scale:g}"
    if os.path.isdir(inputs_root):
        for d in os.listdir(inputs_root):  # keep the cache to the current seed
            if d != key:
                shutil.rmtree(os.path.join(inputs_root, d), ignore_errors=True)
    data_dir = os.path.join(inputs_root, key)
    t_gen = time.perf_counter()
    inputs = gen.write_tables(data_dir, args.seed, scale)
    gen_s = time.perf_counter() - t_gen
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    wl = cls(args.seed, data_dir, work, inject=args.inject_mismatch)

    detail = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "scale": scale, "cores": CORES, "gen_s": gen_s,
              "inputs": {k: {"rows": r, "bytes": b} for k, (r, b) in inputs.items()}}
    try:
        with trace.RssSampler() as rss:
            setups = []
            for rep in range(SETUP_REPS):
                if rep:
                    stop_session()
                t0 = PROCESS_START + gen_s if rep == 0 else time.perf_counter()
                spark = new_session(wl.name)
                wl.prepare(spark)
                setups.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warmup()
            warmup_s = time.perf_counter() - t0
            if args.trace:
                # untraced (S/2), traced (S), untraced (S/2): the traced
                # pass is compared with passes on either side of it, so
                # warm-up drift over the run does not read as overhead
                half = args.seconds / 2
                base_records, base_elapsed, _ = run_pass(wl, spark, half)
                stop_session()
                log_dir = os.path.join(WORK, "eventlog")
                shutil.rmtree(log_dir, ignore_errors=True)
                spark = new_session(wl.name, event_log=log_dir)
                wl.prepare(spark)
                wl.warmup()
                tracer = trace.Tracer(trace.JobLedger(spark))
                wl.instrument(tracer)
                records, elapsed, amp = run_pass(wl, spark, args.seconds, tracer)
                counters = wl.counters()
                stop_session()
                spark = new_session(wl.name)
                wl.prepare(spark)
                wl.warmup()
                more, more_elapsed, _ = run_pass(wl, spark, half)
                base_records += more
                base_elapsed += more_elapsed
            else:
                records, elapsed, amp = run_pass(wl, spark, args.seconds)
    finally:
        stop_jvm()

    lat = latency(records, elapsed)
    detail.update({"setup_s": setups, "warmup_s": warmup_s, "elapsed_s": elapsed, "latency": lat,
                   "ledger_by_kind": ledger_by_kind(records), "amplification": amp,
                   "peak_rss_parts_mb": {k: v / 2 ** 20 for k, v in rss.peak_parts.items()},
                   "records": records})
    all_records = records + (base_records if args.trace else [])
    attempted = len(all_records)
    failed = sum(1 for r in all_records if not r["ok"])
    if args.trace:
        log = sorted(f for f in os.listdir(log_dir) if not f.startswith("."))[-1]
        groups = trace.parse_eventlog(os.path.join(log_dir, log))
        shutil.rmtree(log_dir, ignore_errors=True)
        spark_total, spark_by_kind = spark_metrics(records, groups)
        summary = trace.span_summary(tracer.spans)
        base = latency(base_records, base_elapsed)
        overhead = lat["op_p50_s"] / base["op_p50_s"] - 1
        values = layer_metrics(wl, summary, counters, spark_total, lat, amp, overhead)
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
        detail.update({"untraced_latency": base, "spans": summary,
                       "spark_by_kind": spark_by_kind, "spark_total": spark_total})
    else:
        values = {"setup_s": statistics.median(setups) + warmup_s, "ops_per_s": lat["ops_per_s"],
                  "op_p50_s": lat["op_p50_s"], "op_tail_s": lat["op_tail_s"],
                  "peak_rss_mb": rss.peak_bytes / 2 ** 20}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    os.makedirs(os.path.join(WORK, "detail"), exist_ok=True)
    out = os.path.join(WORK, "detail", f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump({**detail, "metrics": metrics}, f, indent=1, default=str)
    if args.trace:
        with open(out.replace(".json", "-spans.json"), "w") as f:
            json.dump(tracer.spans, f, default=str)

    shown = END_TO_END if not args.trace else [
        *(f"{layer}.self_s" for layer in LAYERS), "trace.overhead_frac"]
    summary_line = " ".join(f"{k}={metrics[k]['value']:.6g}{metrics[k]['unit']}" for k in shown)
    print(f"# {wl.name} seed={args.seed} failed_frac={failed / attempted:.4f} "
          f"({failed}/{attempted}) op_tail=p{lat['tail_pct']} of n={lat['n']} {summary_line}")
    print(f"# detail: {os.path.relpath(out, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def stop_session():
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


if __name__ == "__main__":
    sys.exit(main())
