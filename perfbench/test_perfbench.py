"""Tests of the benchmark itself (not part of the engine's test suite).

    python3 -m pytest perfbench -q

Tiny-scale runs (``--seconds 1``) of each workload check that every metric
named in BENCHMARK.json is emitted with its unit; a run on a corrupted
table shows the correctness checks drive ``failed`` (the error rate)
above zero; a directory holding only the benchmark makes it exit non-zero.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


# every end-to-end metric the full record carries, bounded or not
ALL_END_TO_END = {
    "setup_s", "ingest_events_per_cpu_s", "batch_cpu_s_p50", "lookup_cpu_s_p50",
    "feed_poll_cpu_s_p50", "scan_cpu_s", "ingest_events_per_s", "batch_s_p50",
    "batch_s_p75", "lookup_s_p50", "lookup_s_p90", "feed_poll_s_p50",
    "feed_poll_s_p75", "scan_s", "stored_bytes_per_row", "peak_rss_mb",
    "error_rate",
}


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _units(metrics: dict) -> dict:
    return {k: v["unit"] for k, v in metrics.items()}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_traced_run_emits_every_metric(workload):
    p = _run(ROOT, workload, trace=1)
    assert p.returncode == 0, p.stderr[-3000:]
    *_, full_line, last_line = p.stdout.strip().splitlines()
    last, full = json.loads(last_line), json.loads(full_line)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] > 0
    assert _units(last["metrics"]) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    e2e = full["end_to_end"]
    assert set(e2e) >= ALL_END_TO_END
    for m in SPEC["end_to_end"]:
        assert e2e[m["name"]]["unit"] == m["unit"]
        assert e2e[m["name"]]["value"] > 0
    cover = last["metrics"]["trace.ingest_self_cover"]["value"]
    assert 0.95 <= cover <= 1.0


def test_bare_directory_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), SPEC["workloads"][0]["name"], trace=0)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_lost_data_file_is_caught(tmp_path):
    """A commit that drops one data file from the manifest (data loss the
    engine must never produce) fails the final-state, lookup and feed
    replay checks, so the run's error rate is above zero."""
    import harness
    import workloads

    finish = workloads.finish

    def lose_a_file_then_finish(run, ing, log, model, replica):
        table = ing.table()
        snap = table.current()
        table.commit(new_files=[], carried_files=snap.files[1:],
                     schema=snap.schema(), applied_update={}, parent=snap,
                     commit_type="maintenance")
        finish(run, ing, log, model, replica)

    work = str(tmp_path / "work")
    spark = harness.start_spark(harness.spark_settings(work, None))
    try:
        ops = harness.Ops()
        run = workloads.Run(spark, ops, None, work, seed=7)
        workloads.finish = lose_a_file_then_finish
        workloads.bulk_catchup(run, workloads.Scale.for_seconds(1), harness.cores())
    finally:
        workloads.finish = finish
        harness.stop_spark(spark)
    assert ops.failed > 0
    assert ops.failed / ops.attempted > 0
    assert any("final_state" in f for f in ops.failures)
