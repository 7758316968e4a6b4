"""CDC ingest benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload trickle_serve --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the metrics are the end-to-end metrics, with ``--trace 1``
the per-layer metrics of a traced run. The line before it is the full
record (config, host probe, sample counts, every metric), which is also
written to ``.perfbench/records/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["bulk_catchup", "trickle_serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def end_to_end(run, setup_s: float, peak_mb: float) -> dict:
    """Every end-to-end metric of the workload, bounded in BENCHMARK.json
    or not. Percentiles are nearest-rank over the run's samples (counts in
    the record). The ``*_cpu_*`` metrics count the CPU time the driver
    process and its JVM used during each operation instead of its wall
    time."""
    ops = run.ops
    events = sum(run.batch_events.values())
    return {
        "setup_s": (setup_s, "s"),
        "ingest_events_per_cpu_s": (events / ops.cpu_total("batch"), "events/cpu_s"),
        "batch_cpu_s_p50": (ops.cpu_median("batch"), "cpu_s"),
        "lookup_cpu_s_p50": (ops.cpu_median("lookup"), "cpu_s"),
        "feed_poll_cpu_s_p50": (ops.cpu_median("feed_poll"), "cpu_s"),
        "scan_cpu_s": (ops.cpu_median("scan"), "cpu_s"),
        "ingest_events_per_s": (events / ops.total("batch"), "events/s"),
        "batch_s_p50": (ops.median("batch"), "s"),
        "batch_s_p75": (ops.pct("batch", 75), "s"),
        "lookup_s_p50": (ops.median("lookup"), "s"),
        "lookup_s_p90": (ops.pct("lookup", 90), "s"),
        "feed_poll_s_p50": (ops.median("feed_poll"), "s"),
        "feed_poll_s_p75": (ops.pct("feed_poll", 75), "s"),
        "scan_s": (ops.median("scan"), "s"),
        "stored_bytes_per_row": (
            run.extra["stored_bytes"] / run.extra["live_rows"], "B/row"),
        "peak_rss_mb": (peak_mb, "MB"),
        "error_rate": (ops.failed / ops.attempted, "ratio"),
    }


def engine_config() -> dict:
    """The effective ``CdcIngest`` settings: its defaults, which every
    workload uses."""
    from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest

    ing = CdcIngest(table_path="", batch_dir="")
    return {k: v for k, v in vars(ing).items() if k not in ("table_path", "batch_dir")}


def trace_overhead(records: str, record: dict) -> dict:
    """Traced minus untraced value of every end-to-end metric, against the
    latest untraced record of the same workload and seed, if there is one."""
    prefix = f"{record['workload']}-s{record['seed']}-t0-"
    base = sorted(
        (f for f in os.listdir(records) if f.startswith(prefix) and f.endswith(".json")),
        key=lambda f: os.path.getmtime(os.path.join(records, f)),
    )
    if not base:
        return {}
    with open(os.path.join(records, base[-1])) as fh:
        untraced = json.load(fh)["end_to_end"]
    return {
        k: {"value": v["value"] - untraced[k]["value"], "unit": v["unit"]}
        for k, v in record["end_to_end"].items() if k in untraced
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import runyoro_llm_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not found under {ROOT}: {e}",
              file=sys.stderr)
        return 2

    import harness
    import workloads

    t_proc = harness.process_start_epoch()
    t_probe = time.perf_counter()
    host_start = harness.host_probe()
    probe_s = time.perf_counter() - t_probe

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(OUT, "work", run_id)
    records = os.path.join(OUT, "records")
    os.makedirs(records, exist_ok=True)
    settings = harness.spark_settings(
        work, os.path.join(work, "eventlog") if args.trace else None
    )
    t0 = time.perf_counter()
    spark = harness.start_spark(settings)
    session_start_s = time.perf_counter() - t0
    scale = workloads.Scale.for_seconds(args.seconds)
    ops = harness.Ops(cpu=harness.CpuMeter.of(spark))
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer(spark, run_id, settings["extra_conf"]["spark.eventLog.dir"])
        tracer.install()
    run = workloads.Run(spark, ops, tracer, work, args.seed)
    try:
        workloads.WORKLOADS[args.workload](run, scale, harness.cores())
        setup_s = run.setup_end - t_proc - run.gen_s - probe_s
        metrics = end_to_end(run, setup_s, harness.peak_rss_mb(spark))
        host_end = harness.host_probe()
        harness.stop_spark(spark)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "run_id": run_id,
            "correct": ops.failed == 0,
            "attempted": ops.attempted,
            "failed": ops.failed,
            "failures": ops.failures,
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "samples": ops.samples,
            "cpu_samples": ops.cpu_samples,
            "sample_counts": {k: len(v) for k, v in ops.samples.items()},
            "session_start_s": session_start_s,
            "gen_s": run.gen_s,
            "scale": dataclasses.asdict(scale),
            "extra": run.extra,
            "final_snapshot": run.final_snapshot,
            "spark": {k: v for k, v in settings.items() if k != "env"},
            "engine": engine_config(),
            "host": {"start": host_start, "end": host_end,
                     "steal_share": harness.steal_share(host_start, host_end)},
        }
        if tracer is not None:
            tracer.uninstall()
            record["per_layer"] = tracer.per_layer(run, session_start_s, harness.cores())
            record["trace_overhead"] = trace_overhead(records, record)
            tracer.write_spans(os.path.join(records, f"{run_id}.spans.jsonl"))
        with open(os.path.join(records, f"{run_id}.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = [m["name"] for m in json.load(fh)[kind]]
    metrics = record[kind]
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: metrics[k] for k in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
