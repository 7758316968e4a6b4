"""Traced run: spans around the engine's public calls, from outside it.

``Tracer.install`` wraps the public functions of each layer (the wrappers
live here; no engine file changes). Each wrapper records a span
``{id, name, start, end, parent, op, run}`` in memory; spans are written
out at exit. Spans that carry a ``group`` also set the Spark job group, so
the run's Spark event log (enabled for traced runs only) can be folded into
task metrics per group. A span's self time is its duration minus the time
its child spans cover.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from runyoro_llm_data_pipeline_spark.cdc import apply as cdc_apply
from runyoro_llm_data_pipeline_spark.cdc import ingest as cdc_ingest
from runyoro_llm_data_pipeline_spark.cdc.feed import IncrementalFeed
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.lake.table import (
    CommitConflictError,
    LakeTable,
)

GROUPS = ("apply", "compact", "scan", "lookup", "feed")
GROUP_PROP = "spark.jobGroup.id"

# (owner, attribute, span name, Spark job group)
TARGETS = [
    (CdcIngest, "run", "cdc.ingest.run", None),
    (CdcIngest, "pending", "cdc.ingest.pending", None),
    (cdc_apply, "apply_batch", "cdc.apply", "apply"),
    (cdc_ingest, "apply_batch", "cdc.apply", "apply"),
    (LakeTable, "write_data_files", "lake.write", None),
    (LakeTable, "commit", "lake.commit", None),
    (LakeTable, "current", "lake.snapshot", None),
    (LakeTable, "compact", "lake.compact", "compact"),
    (LakeTable, "truncate_applied", "lake.truncate", None),
    (LakeTable, "read", "lake.read", None),
    (LakeTable, "read_conversation", "lake.read_conversation", None),
    (LakeTable, "read_incremental", "lake.read_incremental", None),
    (LakeTable, "candidate_files_for_key", "lake.candidates", None),
    (IncrementalFeed, "poll", "cdc.feed.poll", None),
]


class Tracer:
    def __init__(self, spark, run_id: str, event_log_dir: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.event_log_dir = event_log_dir
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._saved: list[tuple] = []

    # ------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str, group: str | None = None):
        """A span is *timed* when its root is one of the benchmark's timed
        operations (``bench.*``); only timed spans set a Spark job group
        and count in the per-layer metrics."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else len(self.spans),
            "run": self.run_id,
            "timed": parent["timed"] if parent else name.startswith("bench."),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = group if rec["timed"] else None
        prev_group = None
        if group:
            rec["group"] = group
            prev_group = self.sc.getLocalProperty(GROUP_PROP)
            self.sc.setLocalProperty(GROUP_PROP, group)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                self.sc.setLocalProperty(GROUP_PROP, prev_group)

    def _wrap(self, fn, name: str, group: str | None):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, group) as rec:
                out = fn(*args, **kwargs)
            _annotate(rec, name, args, out)
            return out

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        for owner, attr, name, group in TARGETS:
            fn = owner.__dict__[attr]
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name, group))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    def write_spans(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, default=str) + "\n")

    # ----------------------------------------------------------- metrics
    def self_times(self) -> dict[int, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def per_layer(self, run, session_start_s: float, cores: int) -> dict:
        spans = self.spans
        selfs = self.self_times()

        def named(name):
            return [s for s in spans if s["name"] == name and s["timed"]]

        def busy(name):
            return sum(s["end"] - s["start"] for s in named(name))

        def attr_sum(name, key):
            return sum(s.get(key, 0) for s in named(name))

        def under(span_name, ancestor):
            return [s for s in named(span_name)
                    if any(a["name"] == ancestor for a in _ancestors(spans, s))]

        applied = [s for s in named("cdc.apply") if s.get("status") == "applied"]
        events_in = sum(run.batch_events.get(s["batch_id"], 0) for s in applied)
        keys_out = sum(s.get("keys", 0) for s in applied)
        apply_writes = under("lake.write", "cdc.apply")
        compact_writes = under("lake.write", "lake.compact")
        lookups = named("lake.candidates")
        scans = named("bench.scan")
        snap = run.final_snapshot

        m = {
            "session.start_s": (session_start_s, "s"),
            "cdc.ingest.pending_s": (busy("cdc.ingest.pending"), "s"),
            "cdc.ingest.calls": (len(named("cdc.ingest.run")), "count"),
            "cdc.apply.busy_s": (busy("cdc.apply"), "s"),
            "cdc.apply.self_s": (sum(selfs[s["id"]] for s in named("cdc.apply")), "s"),
            "cdc.apply.calls": (len(named("cdc.apply")), "count"),
            "cdc.apply.events_in": (events_in, "count"),
            "cdc.apply.keys_out": (keys_out, "count"),
            "cdc.apply.keys_per_event": (keys_out / events_in if events_in else 0.0, "ratio"),
            "cdc.apply.rejected": (sum(s.get("rejected", 0) for s in applied), "count"),
            "cdc.apply.late": (sum(s.get("late", 0) for s in applied), "count"),
            "lake.write.busy_s": (busy("lake.write"), "s"),
            "lake.write.calls": (len(named("lake.write")), "count"),
            "lake.write.files": (attr_sum("lake.write", "files"), "count"),
            "lake.write.bytes": (attr_sum("lake.write", "bytes"), "B"),
            "lake.write.files_per_batch": (
                sum(s["files"] for s in apply_writes) / len(applied) if applied else 0.0,
                "count"),
            "lake.commit.busy_s": (busy("lake.commit"), "s"),
            "lake.commit.calls": (len(named("lake.commit")), "count"),
            "lake.commit.conflicts": (
                sum(s.get("error") == CommitConflictError.__name__
                    for s in named("lake.commit")),
                "count"),
            "lake.snapshot.busy_s": (busy("lake.snapshot"), "s"),
            "lake.snapshot.calls": (len(named("lake.snapshot")), "count"),
            "lake.manifest.bytes": (snap["manifest_bytes"], "B"),
            "lake.manifest.files": (snap["files"], "count"),
            "lake.applied.entries": (snap["applied"], "count"),
            "lake.compact.busy_s": (busy("lake.compact"), "s"),
            "lake.compact.calls": (len(named("lake.compact")), "count"),
            "lake.compact.buckets": (attr_sum("lake.compact", "buckets"), "count"),
            "lake.compact.bytes_rewritten": (sum(s["bytes"] for s in compact_writes), "B"),
            "lake.truncate.calls": (len(named("lake.truncate")), "count"),
            "lake.scan.busy_s": (sum(s["end"] - s["start"] for s in scans), "s"),
            "lake.scan.files": (snap["files"], "count"),
            "lake.scan.delta_files": (snap["delta_files"], "count"),
            "lake.lookup.busy_s": (busy("bench.lookup"), "s"),
            "lake.lookup.files_per_lookup": (
                attr_sum("lake.candidates", "files") / len(lookups) if lookups else 0.0,
                "count"),
            "lake.lookup.rows": (run.extra.get("lookup_rows", 0), "count"),
            "cdc.feed.busy_s": (busy("bench.feed_poll"), "s"),
            "cdc.feed.polls": (len(named("bench.feed_poll")), "count"),
            "cdc.feed.rows": (run.extra.get("feed_rows", 0), "count"),
            "cdc.feed.resyncs": (run.extra.get("feed_resyncs", 0), "count"),
        }
        # self times under the root ingest spans against the bench's own
        # timer around the same calls: 1.0 when the spans account for all
        # of the timed ingest wall
        roots = {s["id"] for s in under("cdc.ingest.run", "bench.batch")}
        covered = sum(
            selfs[s["id"]] for s in spans
            if s["id"] in roots or any(a["id"] in roots for a in _ancestors(spans, s))
        )
        timed = run.ops.total("batch")
        m["trace.ingest_self_cover"] = (covered / timed if timed else 0.0, "ratio")

        group_wall = {g: 0.0 for g in GROUPS}
        for s in spans:
            g = s.get("group")
            if g in group_wall and s["timed"] and not any(
                a.get("group") == g for a in _ancestors(spans, s)
            ):
                group_wall[g] += s["end"] - s["start"]
        folded = fold_event_log(self.event_log_dir)
        for g in GROUPS:
            stats = folded.get(g, {})
            run_s = stats.get("executor_run_s", 0.0)
            wall = group_wall[g]
            m.update({
                f"spark.{g}.tasks": (stats.get("tasks", 0), "count"),
                f"spark.{g}.executor_run_s": (run_s, "s"),
                f"spark.{g}.executor_cpu_s": (stats.get("executor_cpu_s", 0.0), "s"),
                f"spark.{g}.shuffle_write_bytes": (stats.get("shuffle_write_bytes", 0), "B"),
                f"spark.{g}.shuffle_read_bytes": (stats.get("shuffle_read_bytes", 0), "B"),
                f"spark.{g}.spill_bytes": (stats.get("spill_bytes", 0), "B"),
                f"spark.{g}.gc_s": (stats.get("gc_s", 0.0), "s"),
                f"spark.{g}.core_util": (run_s / (wall * cores) if wall else 0.0, "ratio"),
                f"spark.{g}.task_skew": (stats.get("task_skew", 0.0), "ratio"),
            })
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _ancestors(spans: list[dict], s: dict):
    """The span's parent, grandparent, ... (span ids are list indices)."""
    p = s["parent"]
    while p is not None:
        yield spans[p]
        p = spans[p]["parent"]


def _annotate(rec: dict, name: str, args, out) -> None:
    """Counts recorded at the layer boundary (after the span closed, so
    the bookkeeping is not timed)."""
    if name == "cdc.apply":
        rec["status"] = out.get("status")
        rec["batch_id"] = out.get("batch_id")
        rec["keys"] = out.get("applied_keys", 0)
        rec["rejected"] = out.get("rejected_rows", 0)
        rec["late"] = out.get("late_events", 0)
    elif name == "lake.write":
        table = args[0]
        rec["files"] = len(out)
        rec["bytes"] = sum(
            os.path.getsize(os.path.join(table.path, e["path"])) for e in out
        )
    elif name == "lake.compact":
        rec["buckets"] = out
    elif name == "lake.candidates":
        rec["files"] = len(out[1])


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Task metrics per job group from a Spark event log (JSON lines)."""
    stage_group: dict[int, str] = {}
    tasks: dict[str, list] = defaultdict(list)
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    stage_wall: dict[int, float] = {}
    paths = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
        if not f.startswith((".", "appstatus"))
    )
    for path in paths:
        with open(path) as fh:
            for line in filter(str.strip, fh):
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(GROUP_PROP)
                    if group in GROUPS:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    tm = ev.get("Task Metrics") or {}
                    tasks[sid].append(tm)
                    stage_tasks[sid].append(tm.get("Executor Run Time", 0))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if info.get("Completion Time") and info.get("Submission Time"):
                        stage_wall[info["Stage ID"]] = (
                            info["Completion Time"] - info["Submission Time"]
                        )
    out: dict[str, dict] = {}
    for g in GROUPS:
        sids = [sid for sid, gg in stage_group.items() if gg == g and sid in tasks]
        tms = [tm for sid in sids for tm in tasks[sid]]
        if not tms:
            continue
        longest = max(sids, key=lambda sid: stage_wall.get(sid, 0))
        times = stage_tasks[longest]
        med = statistics.median(times)
        out[g] = {
            "tasks": len(tms),
            "executor_run_s": sum(tm.get("Executor Run Time", 0) for tm in tms) / 1e3,
            "executor_cpu_s": sum(tm.get("Executor CPU Time", 0) for tm in tms) / 1e9,
            "shuffle_write_bytes": sum(
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                for tm in tms),
            "shuffle_read_bytes": sum(
                (tm.get("Shuffle Read Metrics") or {}).get("Remote Bytes Read", 0)
                + (tm.get("Shuffle Read Metrics") or {}).get("Local Bytes Read", 0)
                for tm in tms),
            "spill_bytes": sum(
                tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                for tm in tms),
            "gc_s": sum(tm.get("JVM GC Time", 0) for tm in tms) / 1e3,
            "task_skew": max(times) / med if med else 0.0,
        }
    return out
