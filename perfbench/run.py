#!/usr/bin/env python3
"""Benchmark entry point (see perfbench/README.md).

    python3 perfbench/run.py --workload cms_sync --seed 1 --seconds 10 --trace 0

Runs one workload in this process on local[<cores>] with one client, checks
its outputs, and prints a summary line and then, as the last line, the
result: {"correct", "attempted", "failed", "metrics"}. `--trace 0` reports
the end-to-end metrics; `--trace 1` reports the per-layer metrics from a
traced run. `--workload all` runs the three workloads one after another.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, instrument  # noqa: E402  (needs ROOT on sys.path)

WORKLOADS = ("cms_sync", "star_analytics", "corpus_llm")
STATE_DIR = os.path.join(ROOT, ".perfbench")
# Catalog scale per query workload. The star-schema queries run at sf0.1,
# where scans, joins and aggregates are most of an execution; at sf0.01 they
# were mostly planning and task launch, whose speed varied by up to 30% from
# one session to the next. The corpus tables grow little with the scale
# (documents 500 -> 5,000 rows), so corpus_llm stays at sf0.01 to fit the
# run budget (see README).
SF = {"star_analytics": 0.1, "corpus_llm": 0.01}
TINY_SF = 0.001
TINY_WIRE = gen.WireParams(n_files=6, records_per_file=50)
# cms_sync: the first micro-batches are the untimed warm-up (the first one
# pays JIT compilation of the whole pipeline)
WARM_BATCHES = 2
HEAP = "2g"  # the JVM's maximum heap

# name -> unit. End-to-end names are shared by all workloads; on cms_sync an
# operation is a micro-batch, on the query workloads a query execution.
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
}
# The workload-specific names of the shared end-to-end metrics, as the
# summary line prints them.
SUMMARY_NAMES = {
    "cms_sync": ("records_per_s", "batch_p50_s", "batch_p90_s"),
    "queries": ("queries_per_s", "query_p50_s", "query_p90_s"),
}
_COMMON_LAYERS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.executor_cpu_s": "s",
    "trace.overhead_p50_s": "s",
    "trace.overhead_throughput_pct": "%",
}
_CMS_LAYERS = {
    "decode.records_per_s": "1/s",
    "decode.valid_ratio": "ratio",
    "decode.deref_calls": "count",
    "decode.fetch_s": "s",
    "state.update_ms_per_batch": "ms",
    "state.commit_ms_per_batch": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "sink.self_s_per_batch": "s",
    "sink.bytes_written_per_batch": "bytes",
    "sink.write_amplification": "ratio",
    "trigger.planning_ms": "ms",
    "trigger.offsets_ms": "ms",
    "cms_sync.records_per_s_1core": "1/s",
}


def _query_layers(workload: str) -> dict[str, str]:
    from perfbench.queries import SETS

    return {f"{workload}.{q}.{m}": "s" for q in SETS.get(workload, ()) for m in ("p50_s", "build_s")}


def per_layer_units() -> dict[str, str]:
    """The per-layer metrics every traced run prints (0 where a layer is not
    on the workload's path)."""
    units = {**_COMMON_LAYERS, **_CMS_LAYERS}
    for wl in WORKLOADS:
        units.update(_query_layers(wl))
    return units


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ session


def prepare_env() -> str:
    """Point every temporary file of this process tree into the checkout and
    let Python workers import the package from any working directory."""
    tmp = os.path.join(STATE_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    return tmp


def start_session(cores: int, tmp: str, event_log: str | None):
    from kinesis_customer_sample_spark.session import get_spark

    conf = {
        "spark.driver.memory": HEAP,
        "spark.driver.defaultJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- workloads


def _trigger_time(p) -> float:
    """Epoch seconds at which a micro-batch was triggered."""
    from datetime import datetime

    return datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()


def cms_sync(spark, args, inputs, work, tracer, layers) -> dict:
    from perfbench import cms

    out = {"attempted": 0, "failed": 0, "errors": []}

    def checked_stream(name, wrap=None):
        """Run a stream and check its table. A stream that fails fails
        every batch it applied and the one it failed in."""
        path = os.path.join(work, name)
        sink, progress, failure = cms.run_stream(
            spark, inputs["stream"], inputs["fetch"], path, WARM_BATCHES, args.seconds, wrap
        )
        if failure is not None:
            ok, msg = False, f"stream failed: {failure}"
            out["attempted"] += 1
            out["failed"] += 1
        else:
            ok, msg = cms.check_table(
                spark, path, sink.applied, inputs["meta"], args.expect_digest
            )
            if not progress:
                raise RuntimeError(f"{name}: the input ran out before a measured batch")
        log(f"{name}: {len(sink.applied)} batches; {msg}")
        out["attempted"] += len(sink.applied)
        if not ok:
            out["failed"] += len(sink.applied)
            out["errors"].append(f"{name}: {msg}")
        return sink, progress, ok

    def e2e(progress, deduct=None):
        """End-to-end figures of the measured batches; `deduct` maps a batch
        id to seconds of the traced wrapper's own measurement jobs."""
        deduct = deduct or {}
        secs = [
            p.durationMs["triggerExecution"] / 1000 - deduct.get(p.batchId, 0.0)
            for p in progress
        ]
        if not secs:  # only after a failed stream
            return {"throughput_per_s": 0.0, "latency_p50_s": 0.0, "latency_p90_s": 0.0,
                    "samples": 0}
        rows = sum(p.numInputRows for p in progress)
        return {
            "throughput_per_s": rows / sum(secs),
            "latency_p50_s": instrument.pct(secs, 50),
            "latency_p90_s": instrument.pct(secs, 90),
            "samples": len(secs),
        }

    sink, progress, ok = checked_stream("measured")
    out["warm_done"] = sink.warm_done or time.perf_counter()
    out["e2e"] = e2e(progress)
    if not args.trace or not ok:
        return out
    # the event-log window: from the first measured batch's trigger to the
    # last one's commit, so neither the table check nor the batch the stop
    # interrupts is counted
    last = progress[-1]
    out["window"] = (
        _trigger_time(progress[0]),
        _trigger_time(last) + last.durationMs["triggerExecution"] / 1000,
        len(progress),
    )

    sink_stats = {}

    def wrap(upsert):
        def traced(batch_df, epoch_id):
            from pyspark.sql import functions as F

            with tracer.span("batch.upstream", epoch=epoch_id):
                batch_df.persist()
                batch_df.count()
            try:
                with tracer.span("batch.sink", epoch=epoch_id) as sp:
                    upsert(batch_df, epoch_id)
                t_stats = time.perf_counter()
                table = os.path.join(work, "traced", "table")
                payload = (
                    F.octet_length("organization_id") + F.octet_length("id")
                    + F.octet_length("branch") + F.octet_length("last_operation")
                    + F.coalesce(F.octet_length("body"), F.lit(0)) + F.lit(9)
                )
                batch_bytes = batch_df.select(F.sum(payload)).first()[0] or 0
                table_bytes = spark.read.parquet(table).select(F.sum(payload)).first()[0] or 0
                sink_stats[epoch_id] = {
                    "self_s": sp["end"] - sp["start"],
                    "disk_bytes": sum(
                        os.path.getsize(os.path.join(table, f)) for f in os.listdir(table)
                    ),
                    "amplification": table_bytes / batch_bytes if batch_bytes else 0.0,
                    "stats_s": time.perf_counter() - t_stats,
                }
            finally:
                batch_df.unpersist()

        return traced

    with tracer.span("measured.traced"):
        _, traced_progress, ok = checked_stream("traced", wrap)
    if not ok:
        return out
    traced_ids = [p.batchId for p in traced_progress]
    stats = [sink_stats[b] for b in traced_ids]
    # the overhead leaves out the wrapper's payload sums and table listing
    # (pure measurement); it keeps the persisted upstream and the spans
    traced_e2e = e2e(traced_progress, {b: sink_stats[b]["stats_s"] for b in traced_ids})
    layers.update(_overhead(out["e2e"], traced_e2e))
    states = [p.stateOperators[0] for p in traced_progress]
    mean = statistics.fmean
    layers.update({
        "state.update_ms_per_batch": mean([s.allUpdatesTimeMs for s in states]),
        "state.commit_ms_per_batch": mean([s.commitTimeMs for s in states]),
        "state.rows_total": states[-1].numRowsTotal,
        "state.memory_bytes": states[-1].memoryUsedBytes,
        "sink.self_s_per_batch": mean([s["self_s"] for s in stats]),
        "sink.bytes_written_per_batch": mean([s["disk_bytes"] for s in stats]),
        "sink.write_amplification": mean([s["amplification"] for s in stats]),
        "trigger.planning_ms": mean([p.durationMs["queryPlanning"] for p in traced_progress]),
        "trigger.offsets_ms": mean([
            p.durationMs["latestOffset"] + p.durationMs["walCommit"] + p.durationMs["commitOffsets"]
            for p in traced_progress
        ]),
    })
    layers.update(_decode_pass(spark, inputs, work, tracer, out))
    return out


def _decode_pass(spark, inputs, work, tracer, out) -> dict:
    """decode_records -> noop over the measured stream's files, with the
    counting fetcher."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from kinesis_customer_sample_spark.fixtures import RECORD_SCHEMA
    from kinesis_customer_sample_spark.sources.decode import decode_records
    from perfbench.cms import CountingStore

    fetch_log = os.path.join(work, "fetch-log")
    os.makedirs(fetch_log)
    store = CountingStore(inputs["fetch"].pack_path, fetch_log)
    records = spark.read.schema(RECORD_SCHEMA).parquet(inputs["stream"])
    obs = Observation("decoded")
    with tracer.span("decode.pass") as sp:
        (
            decode_records(records, fetch=store)
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .write.format("noop").mode("overwrite").save()
        )
    n_in = sum(len(f) for f in inputs["meta"])
    n_valid = sum(m is not None for f in inputs["meta"] for m in f)
    calls, fetch_s = store.totals()
    out["attempted"] += 1
    if obs.get["n"] != n_valid:
        out["failed"] += 1
        out["errors"].append(f"decode kept {obs.get['n']} of {n_in} records, expected {n_valid}")
    return {
        "decode.records_per_s": n_in / (sp["end"] - sp["start"]),
        "decode.valid_ratio": obs.get["n"] / n_in,
        "decode.deref_calls": calls,
        "decode.fetch_s": fetch_s,
    }


def _one_core_rate(args) -> float:
    """The same cms_sync job at local[1], in a fresh process."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", "cms_sync",
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
        "--cores", "1",
    ] + (["--tiny"] if args.tiny else [])
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
    if res.returncode != 0:
        raise RuntimeError(f"local[1] run failed:\n{res.stderr[-2000:]}")
    return json.loads(res.stdout.strip().splitlines()[-1])["metrics"]["throughput_per_s"]["value"]


def query_workload(spark, args, inputs, work, tracer, layers) -> dict:
    from perfbench import queries

    qs = queries.resolve(queries.SETS[args.workload])
    out = {"attempted": 0, "failed": 0, "errors": []}

    def count(samples, errors):
        """Counts a phase's executions; `samples` are the ones that succeeded."""
        out["attempted"] += len(samples) + len(errors)
        out["failed"] += len(errors)
        out["errors"] += errors

    with tracer.span("setup.warmup"):
        count(*queries.warm_and_check(spark, qs, inputs["sf_dir"], tracer, log))
        # unchecked passes until the pass time levels off (JIT warm-up)
        for _ in range(queries.WARM_PASSES[args.workload]):
            count(*queries.measure(spark, qs, inputs["sf_dir"], 0, tracer))
    out["warm_done"] = time.perf_counter()

    def run(t):
        samples, errors = queries.measure(
            spark, qs, inputs["sf_dir"], args.seconds, t, min_passes=2
        )
        count(samples, errors)
        # per pass (each query once), then the median over the passes: the
        # pooled p90 of two or three passes followed the one or two slowest
        # executions (ten-seed spread 0.24 at sf0.1)
        by_pass: dict[int, list[float]] = {}
        for s in samples:
            by_pass.setdefault(s[3], []).append(s[2])
        passes = list(by_pass.values())
        if not passes:  # every execution failed; the failures are counted
            return samples, {"throughput_per_s": 0.0, "latency_p50_s": 0.0,
                             "latency_p90_s": 0.0, "samples": 0}
        med = statistics.median
        return samples, {
            "throughput_per_s": med(len(p) / sum(p) for p in passes),
            "latency_p50_s": med(instrument.pct(p, 50) for p in passes),
            "latency_p90_s": med(instrument.pct(p, 90) for p in passes),
            "samples": len(samples),
            "pass_s": [sum(p) for p in passes],
        }

    t_from = time.time()
    _, out["e2e"] = run(instrument.Tracer(False))
    out["window"] = (t_from, time.time(), max(out["e2e"]["samples"], 1))
    if not args.trace:
        return out
    with tracer.span("measured.traced"):
        samples, traced = run(tracer)
    layers.update(_overhead(out["e2e"], traced))
    medians = queries.per_query_medians(samples)
    for q, short in zip(qs, queries.SETS[args.workload]):
        build, total = medians.get(q.name, (0.0, 0.0))
        layers[f"{args.workload}.{short}.p50_s"] = total
        layers[f"{args.workload}.{short}.build_s"] = build
    return out


def _overhead(untraced: dict, traced: dict) -> dict:
    return {
        "trace.overhead_p50_s": traced["latency_p50_s"] - untraced["latency_p50_s"],
        "trace.overhead_throughput_pct": 100
        * (untraced["throughput_per_s"] - traced["throughput_per_s"])
        / untraced["throughput_per_s"],
    }


# ---------------------------------------------------------------------- main


def make_inputs(args) -> dict:
    cache = os.path.join(STATE_DIR, "cache")
    if args.workload == "cms_sync":
        return gen.wire_inputs(cache, args.seed, TINY_WIRE if args.tiny else gen.WireParams())
    sf = TINY_SF if args.tiny else SF[args.workload]
    return {"sf_dir": gen.table_inputs(cache, args.seed, sf)}


def run_one(args) -> int:
    probe_start = instrument.machine_probe()
    t = time.perf_counter()
    inputs = make_inputs(args)
    gen_s = time.perf_counter() - t
    tmp = prepare_env()
    work = os.path.join(STATE_DIR, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = instrument.Tracer(bool(args.trace))
    layers: dict = {}
    spark = None
    try:
        with instrument.RssSampler() as rss:
            t0 = time.perf_counter()
            with tracer.span("setup.session"):
                spark = start_session(
                    args.cores, tmp, os.path.join(work, "eventlog") if args.trace else None
                )
            session_s = time.perf_counter() - t0
            body = cms_sync if args.workload == "cms_sync" else query_workload
            out = body(spark, args, inputs, work, tracer, layers)
            setup_s = out["warm_done"] - t0
            t_stop = time.perf_counter()
            stop_session(spark)
            spark = None
            teardown_s = time.perf_counter() - t_stop
        if args.trace:
            if "window" in out:  # not after a failed measured phase
                t_from, t_to, ops = out["window"]
                totals = instrument.event_log_totals(os.path.join(work, "eventlog"), t_from, t_to)
                layers.update({f"spark.{k}": v / ops for k, v in totals.items()})
            layers["session.start_s"] = session_s
            layers["session.warmup_s"] = setup_s - session_s
            if args.workload == "cms_sync":
                layers["cms_sync.records_per_s_1core"] = _one_core_rate(args)
            os.makedirs(os.path.join(STATE_DIR, "traces"), exist_ok=True)
            tracer.write(os.path.join(
                STATE_DIR, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
            ))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = out["e2e"]
    metrics_e2e = {
        "setup_s": setup_s,
        "throughput_per_s": e2e["throughput_per_s"],
        "latency_p50_s": e2e["latency_p50_s"],
        "latency_p90_s": e2e["latency_p90_s"],
        "peak_rss_mb": rss.peak / 2**20,
    }
    correct = out["failed"] == 0
    rate, p50, p90 = SUMMARY_NAMES.get(args.workload, SUMMARY_NAMES["queries"])
    named = {
        "setup_s": (setup_s, "s"),
        rate: (e2e["throughput_per_s"], "1/s"),
        p50: (e2e["latency_p50_s"], "s"),
        p90: (e2e["latency_p90_s"], "s"),
        "error_rate": (out["failed"] / out["attempted"], "ratio"),
        "peak_rss_mb": (metrics_e2e["peak_rss_mb"], "MB"),
    }
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": args.cores,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "samples": e2e["samples"],
        "pass_s": e2e.get("pass_s"),
        "errors": out["errors"],
        "generate_s": gen_s,
        "session_s": session_s,
        "warmup_s": setup_s - session_s,
        "teardown_s": teardown_s,
        "machine_start": probe_start,
        "machine_end": instrument.machine_probe(),
    }
    print("summary " + json.dumps(summary), flush=True)
    if args.trace:
        units = per_layer_units()
        values = {k: layers.get(k) or 0 for k in units}
    else:
        units, values = END_TO_END, metrics_e2e
    print(json.dumps({
        "correct": correct,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0 if correct else 1


def run_all(args) -> int:
    """Each workload in its own process; prints their lines, then one
    combined result keyed by workload."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", wl,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(args.cores),
        ] + (["--tiny"] if args.tiny else [])
        res = subprocess.run(cmd, capture_output=True, text=True)
        lines = res.stdout.strip().splitlines()
        if res.returncode not in (0, 1) or not lines:
            sys.stderr.write(res.stderr[-4000:])
            return 2
        print(*lines[:-1], sep="\n")
        last = json.loads(lines[-1])
        combined["correct"] &= last["correct"]
        combined["attempted"] += last["attempted"]
        combined["failed"] += last["failed"]
        for k, v in last["metrics"].items():
            combined["metrics"][f"{wl}.{k}"] = v
    print(json.dumps(combined), flush=True)
    return 0 if combined["correct"] else 1


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--tiny", action="store_true", help="self-test size inputs")
    ap.add_argument(
        "--expect-digest",
        help="override the expected cms_sync table digest (self-test of the check)",
    )
    return ap.parse_args(argv)


def main() -> int:
    args = parse_args()
    try:
        return run_all(args) if args.workload == "all" else run_one(args)
    except Exception:
        traceback.print_exc()
        return 2


if __name__ == "__main__":
    sys.exit(main())
