"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload classify_bulk --seed 1 --seconds 1 --trace 0

Run from the root of a checkout of the repository. The run

1. sizes the Spark session to the machine (``SPARK_GRAFT_CPUS`` = usable
   cores, ``SPARK_GRAFT_DRIVER_MEM`` a quarter of physical RAM, at most
   4g) and keeps every file it writes under ``.bench_work/`` in the
   checkout;
2. sets up once — session start (a fresh JVM), input generation from
   the seed, one warm-up op — and reports that as ``setup_s``;
3. runs ops back to back (a closed loop, one client) until ``--seconds``
   have passed and at least one op has run; with ``--trace 1`` ops
   alternate untraced and traced, at least one of each;
4. checks every op's outputs outside the timed region;
5. prints a summary line (sample counts, per-op seconds and the
   figures reported but not bounded: batch p50 and tail, peak RSS,
   failure share), then one JSON object as the last line: end-to-end
   metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.

Tails are the highest percentile with at least ten samples beyond it;
with fewer than 20 samples the maximum is reported instead. The summary
line states the sample counts and the percentile used.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Printed in the JSON result of an untraced run, each with a bound in
# BENCHMARK.json.
END_TO_END = {"setup_s": "s", "makespan_s": "s", "rows_per_s": "1/s"}


def per_layer_metrics() -> dict[str, str]:
    """The per-layer metrics every traced run prints, with their units
    (zero where a workload does not use the layer)."""
    from fakeprovider import ROUTES
    from workloads import CURATE_COUNTS, CURATE_SPANS

    seconds = [
        "ids.assign_ids_s", "pipeline.self_s", "requests.build_s", "batching.dedupe_s", "jsonl.write_s",
        "jsonl.read_s", "orchestrator.run_job_s", "orchestrator.backend_submit_s", "orchestrator.poll_wait_s",
        "providers.upload_stage_s", "providers.create_s", "providers.fetch_stage_s", "providers.server_busy_s",
        "joinback.assemble_s", "streaming.trigger_s", "streaming.drain_s", "index_store.save_s",
        "index_store.load_s", "index_store.merge_s", "compaction.compact_s", "compaction.gc_s",
        "spark.executor_cpu_s", "spark.gc_s", "spark.driver_idle_s", "spark.catalyst_s",
        "trace.traced_makespan_s", "trace.overhead_s", "trace.unattributed_s",
    ] + [f"{name}_s" for name in CURATE_SPANS]
    counts = [
        "ids.spark_jobs", "pipeline.eager_jobs", "batching.rows_in", "batching.rows_submitted", "jsonl.shards",
        "jsonl.corrupt_rows", "orchestrator.polls", "orchestrator.manifest_writes", "providers.retries",
        "responses.result_rows", "responses.error_rows", "streaming.batches", "streaming.batch_rows",
        "streaming.shuffle_partitions", "streaming.pairs_found", "index_store.index_rows",
        "compaction.files_before", "compaction.files_after", "spark.jobs", "spark.tasks",
    ] + [f"providers.requests_{r}" for r in ROUTES] + list(CURATE_COUNTS)
    out = {n: "s" for n in seconds}
    out.update({n: "count" for n in counts})
    out.update({
        "batching.submit_ratio": "ratio",
        "trace.accounted_frac": "ratio",
        "jsonl.write_bytes": "bytes",
        "providers.upload_bytes": "bytes",
        "providers.download_bytes": "bytes",
        "compaction.bytes_rewritten": "bytes",
        "spark.shuffle_write_bytes": "bytes",
        "spark.shuffle_read_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "driver.peak_rss_mb": "MB",
    })
    return out


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it, or the maximum when there are fewer than 20."""
    v = sorted(values)
    n = len(v)
    if n < 20:
        return v[-1], 100.0
    return v[n - 11], 100.0 * (n - 10) / n


def physical_mem_gb() -> float:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30


def configure_env(work: str, trace: bool) -> None:
    """Session sizing and the confs that keep Spark's files in ``work``;
    must run before the JVM starts."""
    tmp, local, events = (os.path.join(work, d) for d in ("tmp", "spark-local", "events"))
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(physical_mem_gb() / 4)))}g"
    confs = {
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def spark_job_durations(spark, after: int) -> tuple[list[float], int]:
    """Durations of Spark jobs with id > ``after`` (from the status
    store, always on) and the highest job id seen."""
    store = spark._jsc.sc().statusStore()
    ids = [i for i in spark.sparkContext.statusTracker().getJobIdsForGroup(None) if i > after]
    out = []
    for i in sorted(ids):
        job = store.job(i)
        if job.completionTime().isDefined() and job.submissionTime().isDefined():
            out.append((job.completionTime().get().getTime() - job.submissionTime().get().getTime()) / 1000.0)
    return out, max(ids, default=after)


def layer_spark(tracer, op_id: int, by_span: dict) -> dict[str, float]:
    """Spark figures of one traced op from the event log."""
    import tracing as tr

    spans = tracer.op_spans(op_id)
    root = next(s for s in spans if s["name"] == "op")
    ids = {s["id"] for s in spans}
    op_jobs = [j for sid in ids for j in by_span.get(sid, [])]
    names = {s["id"]: s["name"] for s in spans}
    stream = {}
    for j in op_jobs:
        if j["stream_batch"] is not None:
            key = (j["stream_query"], j["stream_batch"])
            stream[key] = max(stream.get(key, 0), j["reduce_tasks"])
    return {
        "spark.jobs": len(op_jobs),
        "spark.tasks": sum(j["tasks"] for j in op_jobs),
        "spark.executor_cpu_s": sum(j["cpu_s"] for j in op_jobs),
        "spark.gc_s": sum(j["gc_s"] for j in op_jobs),
        "spark.shuffle_write_bytes": sum(j["shuffle_write"] for j in op_jobs),
        "spark.shuffle_read_bytes": sum(j["shuffle_read"] for j in op_jobs),
        "spark.spill_bytes": sum(j["spill"] for j in op_jobs),
        "spark.driver_idle_s": (root["end"] - root["start"]) - tr.busy_s(op_jobs, root["start"], root["end"]),
        "ids.spark_jobs": sum(len(by_span.get(sid, [])) for sid, n in names.items() if n == "ids.assign_ids"),
        "pipeline.eager_jobs": sum(len(by_span.get(sid, [])) for sid, n in names.items() if n == "pipeline.run"),
        "streaming.shuffle_partitions": statistics.median(stream.values()) if stream else 0,
    }


def run(args) -> dict:
    import workloads

    wl = workloads.WORKLOADS[args.workload](args.seed, args.work)
    from genai_batch_processor_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"bench-{args.workload}")
    try:
        t_session = time.perf_counter()
        wl.start(spark)
        wl.generate(os.path.join(args.work, "inputs"))
        t_inputs = time.perf_counter()
        warm = wl.warmup(spark)
        setup_s = time.perf_counter() - t0
        setup_parts = {"session_s": t_session - t0, "inputs_s": t_inputs - t_session,
                       "warmup_s": setup_s - (t_inputs - t0)}

        tracer = None
        if args.trace:
            import tracing as tr

            tracer = tr.Tracer(spark)
        outs, seconds, batches_s = [], [], []
        attempted = failed = 0
        _, last_job = spark_job_durations(spark, -1)
        deadline = time.perf_counter() + args.seconds
        k = 0
        min_ops = 2 if args.trace else 1
        while k < min_ops or time.perf_counter() < deadline:
            traced = tracer is not None and k % 2 == 1
            if traced:
                wl.tracer = tracer
                tracer.op = k
                wl.patches(tracer)
            t_op = time.perf_counter()
            try:
                if traced:
                    with tracer.span("op"):
                        out = wl.op(spark)
                else:
                    out = wl.op(spark)
            except Exception:  # noqa: BLE001 — an op that raises is a failed op; the run goes on
                traceback.print_exc()
                out = None
            dt = time.perf_counter() - t_op
            if traced:
                tracer.unpatch()
                wl.tracer = None
                tracer.op = None
            wl.after_op(spark)
            durations, last_job = spark_job_durations(spark, last_job)
            if out is None:
                attempted += 1
                failed += 1
            else:
                out["traced"] = traced
                outs.append((k, out))
                if not traced:
                    seconds.append(dt)
                    batches_s.extend(wl.batch_seconds(out, durations))
            k += 1

        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
        layer_rows = []
        if tracer is not None:
            layer_rows = [(k, out, wl.layers(tracer, k, out)) for k, out in outs if out["traced"]]
    finally:
        wl.stop()
        stop_spark(spark)

    checked = [warm] + [out for _k, out in outs]
    for out in checked:
        a, f = wl.check(out)
        attempted += a
        failed += f
    a, f = wl.finish_checks(checked)
    attempted += a
    failed += f

    summary = {"workload": args.workload, "seed": args.seed, "setup": setup_parts, "ops": len(outs), "op_s": seconds,
               **wl.summary([out for _k, out in outs if not out["traced"]])}
    if tracer is None:
        metrics = {
            "setup_s": setup_s,
            "makespan_s": statistics.median(seconds),
            "rows_per_s": sum(out["rows"] for _k, out in outs) / sum(seconds),
        }
        units = END_TO_END
        # Reported, not bounded: too noisy on a 4-core VM to gate on
        # (README.md, "Metrics").
        batch_tail, batch_pct = tail(batches_s)
        summary["reported"] = {
            "batch_p50_s": {"value": statistics.median(batches_s), "unit": "s"},
            "batch_tail_s": {"value": batch_tail, "unit": "s", "percentile": batch_pct, "samples": len(batches_s)},
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
            "fail_frac": {"value": failed / attempted, "unit": "ratio"},
        }
    else:
        import tracing as tr

        events = tr.read_event_log(os.path.join(args.work, "events"))
        by_span = tr.attribute_jobs(tracer, events)
        per_op = []
        for k, out, layers in layer_rows:
            root = next(s for s in tracer.op_spans(k) if s["name"] == "op")
            st = tracer.self_times(k)
            traced_s = root["end"] - root["start"]
            row = {n: 0.0 for n in per_layer_metrics()}
            row.update(layers)
            row.update(layer_spark(tracer, k, by_span))
            row["spark.catalyst_s"] = tracer.counts[k].get("spark.catalyst_s", 0.0)
            row["trace.traced_makespan_s"] = traced_s
            row["trace.unattributed_s"] = st[root["id"]]
            row["trace.accounted_frac"] = 1.0 - st[root["id"]] / traced_s
            row["driver.peak_rss_mb"] = peak_rss
            if set(row) != set(per_layer_metrics()):
                raise RuntimeError(f"metrics outside the per-layer list: {sorted(set(row) - set(per_layer_metrics()))}")
            per_op.append(row)
        untraced = statistics.median(seconds) if seconds else 0.0
        metrics = {name: statistics.median(row[name] for row in per_op) for name in per_op[0]}
        metrics["trace.overhead_s"] = metrics["trace.traced_makespan_s"] - untraced
        units = per_layer_metrics()
        accounted = min(row["trace.accounted_frac"] for row in per_op)
        summary.update({"untraced_makespan_s": untraced, "traced_ops": len(per_op),
                        "accounted_frac_min": accounted, "accounted_min_required": tr.ACCOUNTED_MIN,
                        "fail_frac": failed / attempted})
        attempted += 1
        failed += accounted < tr.ACCOUNTED_MIN
        tracer.dump(os.path.join(ROOT, ".bench_work", f"spans-{args.workload}-{args.seed}.json"))
    print("summary " + json.dumps(summary), flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "genai_batch_processor_spark")):
        print(f"no genai_batch_processor_spark package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # SIGTERM unwinds like an exception, so the provider process and the
    # JVM are stopped and the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args.work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(args.work)
    configure_env(args.work, bool(args.trace))
    try:
        result = run(args)
    finally:
        shutil.rmtree(args.work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
