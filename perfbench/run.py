"""Benchmark of the ingest engine, end to end and layer by layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload alert-ingest --seed 1 --seconds 20 --trace 0

``--trace 0`` times untraced iterations and prints the end-to-end
metrics; ``--trace 1`` also runs one traced iteration and prints the
per-layer metrics. The last line on stdout is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it records the host. The exit code is 0 only when every
correctness check passed. See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

from workloads import QUERY_KEYS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "tf_prisma_api_data_ingestion_spark"

END_TO_END = {"setup_s": "s", "run_s": "s", "rows_per_s": "1/s"}


PER_LAYER = {
    # alert-ingest
    "sources.rest.scan_s": "s",
    "sources.rest.partitions": "count",
    "sources.rest.retries": "count",
    "sources.rest.backoff_wait_s": "s",
    "sources.rest.requests": "count",
    "sources.rest.pages": "count",
    "sources.rest.requests_per_page": "ratio",
    "sources.rest.login_s": "s",
    "sources.rest.get_json_s": "s",
    "plans.report.alert_s": "s",
    "plans.e2e.full_report_run_s": "s",
    "sinks.stage_s": "s",
    "sinks.publish_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    # corpus-train
    "operators.text.quality_features_s": "s",
    "operators.text.contamination_hits_s": "s",
    "operators.dedup.ngram_jaccard_pairs_s": "s",
    "operators.dedup.dedup_clusters_auto_s": "s",
    "plans.corpus.corpus_clean_v2_s": "s",
    "plans.corpus.corpus_to_training_s": "s",
    "operators.text.temperature_sample_s": "s",
    "operators.text.pack_sequences_s": "s",
    "sinks.write_training_shards_s": "s",
    "plans.corpus.docs_in": "count",
    "plans.corpus.quality_pass": "count",
    "plans.corpus.survivors": "count",
    "plans.corpus.keep_ratio": "ratio",
    "plans.corpus.bins": "count",
    "operators.dedup.pairs": "count",
    "cache.persisted_frames": "count",
    # query-mix keys (timed in the traced run of alert-ingest)
    **{f"query.{k}.s": "s" for k in QUERY_KEYS},
    # every workload
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "session.get_spark_s": "s",
    "setup.first_iteration_s": "s",
    "process.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description="ingest-engine benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is for the smoke test")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found next to {HERE}", file=sys.stderr)
        return 2
    import host
    import workloads

    t_start = host.process_start_time()
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    event_log = os.path.join(work, "eventlog") if args.trace else None
    host.fit_env(ROOT, work, event_log)
    # a TERM must still run the clean-up below (server, session, files)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl = workloads.WORKLOADS[args.workload](work, args.seed, args.size)
    try:
        record = measure(args, wl, work, event_log, t_start)
    finally:
        try:
            wl.close()
            host.stop_spark()
        finally:
            host.stop_descendants()
            shutil.rmtree(work, ignore_errors=True)
    print("# host " + json.dumps(record["host"]))
    for p in record["problems"]:
        print("# FAILED " + p)
    result = {"correct": record["failed"] == 0, "attempted": record["attempted"],
              "failed": record["failed"], "metrics": record["metrics"]}
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def measure(args, wl, work, event_log, t_start):
    import host
    import workloads
    from tracing import Tracer, event_log_bytes, job_counts

    from tf_prisma_api_data_ingestion_spark.session import get_spark

    t = time.perf_counter()
    wl.prepare()
    qmix = (workloads.QueryMix(work, args.seed, wl.sizes)
            if args.trace and wl.name == "alert-ingest" else None)
    gen_s = time.perf_counter() - t

    # set-up: from process start until the session is built and warmed
    # up, input generation excluded. A cold start happens once a process,
    # so a run has one sample.
    t = time.perf_counter()
    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t
    wl.warm_up(spark)
    setup_s = time.time() - t_start - gen_s
    sc = spark.sparkContext

    attempted = failed = 0
    problems: list[str] = []

    def gate(out) -> None:
        nonlocal attempted, failed
        found = wl.check(out)
        attempted += 1
        failed += bool(found)
        problems.extend(found)
        wl.discard(out)

    # the traced run reports the first iteration's time, so nothing may
    # run beside it there
    wl.before_first_iteration(overlap=not args.trace)
    sc.setJobGroup("first", "first iteration")
    first = wl.iteration(spark, 0)
    gate(first)

    times, counts, api = [], [], []
    i = 0
    while len(times) < wl.min_iterations or sum(times) < args.seconds:
        i += 1
        sc.setJobGroup(f"iter-{i}", "timed iteration")
        out = wl.iteration(spark, i)
        times.append(out["s"])
        if args.trace:
            counts.append(job_counts(spark, f"iter-{i}"))
        if "api" in out:
            api.append(out["api"])
        gate(out)
    run_s = statistics.median(times)

    metrics_raw = {}
    if args.trace:
        tracer = Tracer(f"{wl.name}-{args.seed}-{os.getpid()}")
        i += 1
        sc.setJobGroup(f"traced-{i}", "traced iteration")
        out = wl.traced_iteration(spark, tracer, i)
        gate(out)
        if qmix is not None:
            found = qmix.run(spark, tracer)
            attempted += len(qmix.keys)
            failed += len(found)
            problems.extend(found)
        metrics_raw = layer_metrics(tracer, out["s"], run_s, counts, api)
        metrics_raw["session.get_spark_s"] = get_spark_s
        metrics_raw["setup.first_iteration_s"] = first["s"]
        os.makedirs(os.path.join(HERE, ".work", "traces"), exist_ok=True)
        tracer.dump(os.path.join(HERE, ".work", "traces", f"{tracer.run_id}.json"))
    metrics_raw["process.peak_rss_mb"] = host.peak_rss_mb()
    fp = host.fingerprint(spark)
    spark.stop()

    if args.trace:
        per_group = event_log_bytes(event_log)
        for key in ("shuffle_bytes", "spill_bytes"):
            metrics_raw[f"spark.{key}"] = statistics.median_low(
                per_group.get(f"iter-{j}", {}).get(key, 0) for j in range(1, len(times) + 1))
        metrics = {k: {"value": float(metrics_raw.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, "run_s": run_s,
                  "rows_per_s": wl.rows / run_s}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    fp.update(workload=wl.name, seed=args.seed, iterations=len(times),
              peak_rss_mb=round(metrics_raw["process.peak_rss_mb"], 1),
              run_s_samples=[round(x, 4) for x in times],
              setup_s=round(setup_s, 4),
              first_iteration_s=round(first["s"], 3),
              input_generation_s=round(gen_s, 3))
    return {"host": fp, "metrics": metrics, "attempted": attempted,
            "failed": failed, "problems": problems}


def layer_metrics(tracer, traced_s, run_s, counts, api) -> dict:
    """Per-layer figures: self times and counts from the traced
    iteration, Spark job counts and REST counts from the untraced ones."""
    out = {f"{name}_s": v for name, v in tracer.self_times().items()}
    out.update(tracer.counts)
    out["trace.overhead_frac"] = traced_s / run_s - 1.0
    for key in ("jobs", "stages", "tasks"):
        out[f"spark.{key}"] = statistics.median_low(c[key] for c in counts)
    if api:
        med = {k: statistics.median_low(a[k] for a in api) for k in api[0]}
        out["sources.rest.requests"] = med["requests"]
        out["sources.rest.pages"] = med["pages"]
        out["sources.rest.requests_per_page"] = med["requests"] / max(med["pages"], 1)
        out["sources.rest.retries"] = med["throttled"]
        out["sources.rest.backoff_wait_s"] = med["retry_gap_s"]
    return out


if __name__ == "__main__":
    sys.exit(main())
