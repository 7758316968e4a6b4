"""Scaling-efficiency bench — the BASELINE.md sandbox evidence protocol.

Runs the identical CDC apply job on the identical materialized change log
at two parallelism levels (local[N] and local[4N], shuffle partitions
scaled with cores — one Spark JVM per subprocess, since master is fixed
per JVM), reports events/sec at both and

    eff = (throughput_4N / throughput_N) / 4

Usage:  python bench_scaling.py [n_turns] [N]
Writes results to stdout as one JSON line; BENCH.md records the numbers.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.abspath(__file__))

_CHILD = r"""
import os, sys, time, json, shutil
sys.path.insert(0, %(repo)r)
from runyoro_llm_data_pipeline_spark.session import get_spark
phase = sys.argv[1]; work = sys.argv[2]; cpus = int(sys.argv[3]); n_turns = int(sys.argv[4])
# Shuffle + output land on tmpfs: on a real cluster each executor has its
# own local NVMe, so spill/shuffle bandwidth scales with executor count;
# this sandbox has ONE shared virtio disk, which would serialize I/O across
# thread counts and measure the disk, not the engine. RAM-backed dirs are
# the faithful per-executor-disk analogue (documented in BENCH.md).
ram = "/dev/shm" if os.path.isdir("/dev/shm") else None
local_dir = os.path.join(ram or work, f"spark-local-{cpus}")
spark = get_spark(app_name=f"scaling-{phase}-{cpus}",
                  master=f"local[{cpus}]", shuffle_partitions=cpus,
                  extra_conf={"spark.local.dir": local_dir,
                              # fixed partition counts: AQE's per-query-stage
                              # replan barriers add driver latency per batch
                              # without helping this fully-known plan
                              "spark.sql.adaptive.enabled": "false"})
log = os.path.join(work, "log")
n_batches = int(os.environ.get("SCALING_BATCHES", "4"))
if phase == "gen":
    from runyoro_llm_data_pipeline_spark.cdc.generator import gen_change_log, write_batch_files
    events, _ = gen_change_log(spark, n_turns=n_turns, n_convs=max(n_turns // 20, 10),
                               n_batches=n_batches, tool_from_batch=2)
    write_batch_files(events, log, tool_from_batch=2)
    n = sum(spark.read.parquet(os.path.join(log, d)).count() for d in os.listdir(log))
    print(json.dumps({"events": n}))
else:
    from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
    table = os.path.join(ram or work, f"scaling_table_{cpus}")
    shutil.rmtree(table, ignore_errors=True)
    try:
        ing = CdcIngest(table, log, num_buckets=32, mode="mor")
        t0 = time.perf_counter()
        res = ing.run(spark)
        dt = time.perf_counter() - t0
        assert all(r["status"] == "applied" for r in res)
        rows = ing.table().read(spark).count()
    finally:
        shutil.rmtree(table, ignore_errors=True)
        shutil.rmtree(local_dir, ignore_errors=True)
    print(json.dumps({"cpus": cpus, "sec": round(dt, 2), "rows": rows}))
"""


def _run(phase: str, work: str, cpus: int, n_turns: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _CHILD % {"repo": REPO}, phase, work, str(cpus), str(n_turns)],
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    n_turns = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    work = tempfile.mkdtemp(prefix="scaling_")
    try:
        gen = _run("gen", work, 32, n_turns)
        lo = _run("ingest", work, n, n_turns)
        hi = _run("ingest", work, 4 * n, n_turns)
        r_lo = gen["events"] / lo["sec"]
        r_hi = gen["events"] / hi["sec"]
        eff = (r_hi / r_lo) / 4
        print(
            json.dumps(
                {
                    "events": gen["events"],
                    "n_cores": n,
                    "events_per_sec_N": round(r_lo, 1),
                    "events_per_sec_4N": round(r_hi, 1),
                    "sec_N": lo["sec"],
                    "sec_4N": hi["sec"],
                    "scaling_efficiency": round(eff, 3),
                    "pass": eff >= 0.8,
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
