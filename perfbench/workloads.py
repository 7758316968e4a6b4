"""The benchmark's workloads: closed loop, one client, fresh process.

``bulk_catchup``: every batch of a seeded log is present at the start; one
``CdcIngest.run`` applies them into an empty table. The Spark data path
(scan → normalize → latest-wins collapse → shuffle → delta write → the
compaction it triggers) does nearly all the work. It runs cold, as a
catch-up job does: the first-run compilation of each code path counts.

``trickle_serve``: a table preloaded (untimed; the preload, with a round
of lookups and a scan, is also the warm-up) from the log's first two
batches receives small batches one at a time. After each
``CdcIngest.run(max_batches=1)`` the client runs a fixed seeded sequence
of point lookups and one feed poll.
Per-batch fixed cost dominates, and reads beside writes show any ingest
saving that raises merge-on-read read amplification.

Both end with full scans and the same correctness checks, all outside the
timed windows: final table == the generated log's expected final state
(``exceptAll`` both ways), a rerun applies nothing (exactly-once), every
lookup returns the conversation's expected rows, and the feed's deliveries
replayed in order reproduce the final table.
"""

from __future__ import annotations

import contextlib
import os
import random
import time
from collections import Counter
from dataclasses import dataclass

from runyoro_llm_data_pipeline_spark.cdc.feed import IncrementalFeed
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest
from runyoro_llm_data_pipeline_spark.lake.table import DELETED

import loadgen
from harness import Ops
from loadgen import HOT_CONV, PUBLIC_COLS, LogSpec, StateModel, row_tuples

# full scans repeat until SCAN_SECONDS of scanning, 3 to 15 of them: a
# short scan gets enough samples for a steady median, a long one costs no
# more than needed
SCAN_SECONDS = 1.0
SCAN_REPS = (3, 15)
# untimed lookups in the warm-up, so their code path is compiled before
# the timed ones run
WARM_LOOKUPS = 3


@dataclass(frozen=True)
class Scale:
    """How much work one run does. ``for_seconds`` sizes it so the timed
    operations take about ``seconds`` on a 4-CPU host.

    Each trickle batch writes up to 4 delta files per bucket (the engine
    salts its writes 4 ways), so with the default ``compact_max_files=4``
    every second batch compacts. The preload leaves the first timed batch
    compacting, and the round count is odd, so compacting batches are the
    majority: the median batch, and the median lookup (after 2 of 3
    rounds the table is compacted), fall inside one mode, not between two.
    """

    bulk_turns: int = 15_000
    bulk_lookups: int = 10
    trickle_turns_per_batch: int = 2_400
    trickle_rounds: int = 3
    lookups_per_round: int = 3

    @staticmethod
    def for_seconds(seconds: int) -> "Scale":
        return Scale(
            bulk_turns=1_000 * seconds,
            trickle_rounds=2 * max(1, seconds // 10) + 1,
        )


class Run:
    """State shared by a workload's steps: session, op accounting, the
    optional tracer and the work directory. While ``warming`` is set, steps
    are neither timed nor traced and their counts are not kept."""

    def __init__(self, spark, ops: Ops, tracer, work: str, seed: int):
        self.spark = spark
        self.ops = ops
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.warming = False
        self.batch_events: dict[int, int] = {}  # events per timed batch id
        self.final_snapshot: dict = {}
        self.gen_s = 0.0
        self.setup_end: float | None = None
        self.extra: dict = {}

    @contextlib.contextmanager
    def step(self, kind: str, group: str | None = None):
        """One timed operation; traced runs also record it as a root span
        whose Spark jobs carry ``group``."""
        if self.warming:
            yield
            return
        if self.setup_end is None:
            self.setup_end = time.time()
        span = (
            self.tracer.span(f"bench.{kind}", group=group)
            if self.tracer else contextlib.nullcontext()
        )
        with self.ops.timed(kind), span:
            yield

    def count(self, key: str, n: int) -> None:
        if not self.warming:
            self.extra[key] = self.extra.get(key, 0) + n

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self, spec: LogSpec, name: str) -> loadgen.GeneratedLog:
        t0 = time.perf_counter()
        log = loadgen.generate(spec, self.path(name))
        self.gen_s += time.perf_counter() - t0
        return log


# ------------------------------------------------------------------ steps
def _poll(run: Run, feed: IncrementalFeed):
    """One feed cycle: poll, materialize the delivery, commit."""
    got = feed.poll(run.spark)
    if got is None:
        return None
    df, token = got
    pdf = df.toPandas()
    feed.commit(token)
    return pdf, token


def _scan(run: Run, table) -> None:
    table.read(run.spark).write.format("noop").mode("overwrite").save()


class Replica:
    """A downstream replica built only from feed deliveries."""

    def __init__(self) -> None:
        self.rows: dict[tuple, tuple] = {}

    def apply(self, delivery) -> None:
        if delivery is None:
            return
        pdf, token = delivery
        if token.was_resync:
            self.rows.clear()
        deleted = pdf[DELETED].fillna(False).astype(bool)
        for row, gone in zip(row_tuples(pdf), deleted):
            if gone:
                self.rows.pop(row[:2], None)
            else:
                self.rows[row[:2]] = row


def lookup_plan(convs: list[str], seed: int, rounds: int, per_round: int):
    """Per round: the hot conversation once, then Zipf(1.1) picks over the
    other conversations in a seeded rank order."""
    rng = random.Random(seed)
    cold = [c for c in convs if c != HOT_CONV]
    rng.shuffle(cold)
    weights = [1 / (r + 1) ** 1.1 for r in range(len(cold))]
    return [
        [HOT_CONV] + rng.choices(cold, weights, k=per_round - 1)
        for _ in range(rounds)
    ]


def lookups(run: Run, table, model: StateModel, convs: list[str]) -> None:
    for conv in convs:
        with run.step("lookup", group="lookup"):
            pdf = table.read_conversation(run.spark, conv).toPandas()
        run.count("lookup_rows", len(pdf))
        got, want = Counter(row_tuples(pdf)), Counter(model.rows(conv))
        run.ops.check("lookup", got == want,
                      f"{conv}: {len(got)} rows, expected {len(want)}")


def feed_poll(run: Run, feed: IncrementalFeed, replica: Replica) -> None:
    with run.step("feed_poll", group="feed"):
        delivery = _poll(run, feed)
    if delivery is not None:
        pdf, token = delivery
        run.count("feed_rows", len(pdf))
        run.count("feed_resyncs", int(token.was_resync))
    replica.apply(delivery)


def finish(run: Run, ing: CdcIngest, log, model: StateModel,
           replica: Replica) -> None:
    """Timed scans, then every end-of-run correctness check."""
    table = ing.table()
    lo, hi = SCAN_REPS
    while True:
        with run.step("scan", group="scan"):
            _scan(run, table)
        n = len(run.ops.samples["scan"])
        if n >= hi or (n >= lo and run.ops.total("scan") >= SCAN_SECONDS):
            break

    spark = run.spark
    final = table.read(spark).select(*PUBLIC_COLS)
    expected = spark.read.parquet(log.expected_path).select(*PUBLIC_COLS)
    extra, missing = final.exceptAll(expected).count(), expected.exceptAll(final).count()
    run.ops.check("final_state", extra == 0 and missing == 0,
                  f"{extra} unexpected rows, {missing} missing rows")

    version = table.current().version
    rerun = ing.run(spark)
    run.ops.check("exactly_once", rerun == [] and table.current().version == version,
                  f"rerun applied {len(rerun)} batches")

    # the final table equals the model (checked above), so a replica that
    # equals the model reproduces the final table
    want = set(model.all_rows())
    got = set(replica.rows.values())
    run.ops.check("feed_replay", got == want, f"{len(got)} rows vs {len(want)}")

    snap = table.current()
    run.extra["live_rows"] = len(want)
    run.extra["stored_bytes"] = sum(
        os.path.getsize(os.path.join(table.path, f["path"])) for f in snap.files
    )
    run.final_snapshot = {
        "version": snap.version,
        "files": len(snap.files),
        "delta_files": sum(f.get("kind") == "delta" for f in snap.files),
        "applied": len(snap.applied),
        "manifest_bytes": os.path.getsize(
            os.path.join(table.path, "snapshots", f"v{snap.version:08d}.json")),
    }


# -------------------------------------------------------------- workloads
def _catch_up(run: Run, log, model: StateModel, plan: list[str], name: str):
    """Apply the whole log to a new empty table with one ``CdcIngest.run``,
    then the lookups and one feed poll that delivers the catch-up."""
    ing = CdcIngest(run.path(name, "table"), log.batch_dir)
    ing.table()
    feed = IncrementalFeed(ing.table_path, run.path(name, "feed", "ckpt.json"))
    replica = Replica()
    replica.apply(_poll(run, feed))  # subscribe to the empty table
    with run.step("batch"):
        results = ing.run(run.spark)
    run.ops.check("applied", [r["batch_id"] for r in results] == log.batch_ids)
    lookups(run, ing.table(), model, plan)
    feed_poll(run, feed, replica)
    return ing, replica


def bulk_catchup(run: Run, scale: Scale, cores: int) -> None:
    spec = LogSpec(seed=run.seed, n_turns=scale.bulk_turns,
                   n_convs=max(scale.bulk_turns // 20, 10), n_batches=4,
                   tool_from_batch=2, files_per_batch=4 * cores)
    log = run.generate(spec, "log")
    model = StateModel()
    model.apply(log.events)
    plan = lookup_plan(model.conversations(), run.seed, 1, scale.bulk_lookups)[0]
    # no warm-up: a catch-up job starts a fresh process, so the first-run
    # compilation of every code path it takes is part of what it costs
    ing, replica = _catch_up(run, log, model, plan, "bulk")
    run.batch_events.update(log.events_per_batch)
    finish(run, ing, log, model, replica)


def trickle_serve(run: Run, scale: Scale, cores: int) -> None:
    rounds = scale.trickle_rounds
    n_turns = scale.trickle_turns_per_batch * (2 + rounds)
    spec = LogSpec(seed=run.seed, n_turns=n_turns,
                   n_convs=max(n_turns // 20, 10), n_batches=2 + rounds,
                   tool_from_batch=1, files_per_batch=4 * cores)
    log = run.generate(spec, "log")
    by_batch = {b: g for b, g in log.events.groupby("batch_id")}
    model = StateModel()

    # untimed preload of batches 0 and 1, which doubles as the warm-up:
    # both applies, a compaction between them, a resync poll, an
    # incremental poll, a round of lookups and a scan. It leaves one
    # batch's delta files in every bucket, so the first timed batch
    # compacts (see Scale)
    ing = CdcIngest(run.path("table"), log.batch_dir)
    feed = IncrementalFeed(ing.table_path, run.path("feed", "ckpt.json"))
    replica = Replica()
    table = ing.table()
    run.warming = True
    for b in (0, 1):
        results = ing.run(run.spark, max_batches=1)
        run.ops.check("preload", [r["batch_id"] for r in results] == [b])
        model.apply(by_batch[b])
        feed_poll(run, feed, replica)
        if b == 0:
            table.compact(run.spark)
    warm = lookup_plan(model.conversations(), run.seed + 1, 1, WARM_LOOKUPS)
    lookups(run, table, model, warm[0])
    _scan(run, table)
    run.warming = False

    plan = lookup_plan(model.conversations(), run.seed, rounds, scale.lookups_per_round)
    for r, batch_id in enumerate(range(2, 2 + rounds)):
        with run.step("batch"):
            results = ing.run(run.spark, max_batches=1)
        run.ops.check("applied", [x["batch_id"] for x in results] == [batch_id])
        run.batch_events[batch_id] = log.events_per_batch[batch_id]
        model.apply(by_batch[batch_id])
        lookups(run, ing.table(), model, plan[r])
        feed_poll(run, feed, replica)
    finish(run, ing, log, model, replica)


WORKLOADS = {"bulk_catchup": bulk_catchup, "trickle_serve": trickle_serve}
