"""apply_batch — validate → normalize → collapse → merge → atomic commit.

One call = one exactly-once unit, generalizing the reference's per-source
ingest transaction (dedup check ``scripts/orchestrator.py:88-101`` …
ledger rewrite ``scripts/orchestrator.py:184-186``):

* **idempotency gate**: if ``batch_id`` is already in the current snapshot's
  applied-offset map the call is a no-op (returns ``skipped``) — replaying a
  batch after a crash, or delivering it twice, cannot double-apply;
* **normalization** (P2): the reference's ``clean_and_preprocess_text``
  (``scripts/text_processing.py:15-40``) applied to the ``text`` payload as a
  JVM column expression — the per-turn equality invariant lives here;
* **collapse** (W3): latest-wins by ``(event_ts, lsn)`` per key;
* **merge**: ``mode='cow'`` = bucket-pruned copy-on-write rewrite
  (read-optimized); ``mode='mor'`` = merge-on-read delta append
  (write-optimized, one delta file per touched bucket) on a deliberately
  minimal job graph:

      metadata count → [collapse → partitioned parquet write]

  where collapse is either the pure-JVM ``max_by`` aggregate (default —
  map-side partial aggregation, measured fastest: the post-collapse
  ``repartition(num_buckets, __bucket)`` moves only one row per key and
  gives each bucket one writer) or the single-shuffle
  Arrow ``mapInPandas`` dedup (``collapse_impl='arrow'`` — fewer
  shuffles but pays one Arrow round-trip of the full batch; the
  vectorized-apply stage of BASELINE.json:north_star). Admission
  metrics are piggybacked on the write via ``Observation``
  (no extra scan), per-bucket lineage stats harvested from the written
  parquet *footers* (no stats job — the same trick Iceberg manifests use),
  and the lineage file written driver-side with pyarrow (no Spark job).
  Two Spark jobs per batch, total.
* **commit**: data files + applied offsets + lineage land in ONE snapshot;
  the version-pointer rename is the commit point. Crash anywhere before it
  → next run re-applies the batch onto the previous snapshot and converges
  to the same state (orphan files are ignored by manifests).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.dedup import (
    collapse_latest_wins,
    collapse_latest_wins_arrow,
    collapse_latest_wins_bucketed,
    payload_columns,
)
from runyoro_llm_data_pipeline_spark.cdc.events import (
    conform_events,
    validate_events,
    validity_condition,
)
from runyoro_llm_data_pipeline_spark.lake.merge import evolve_schema, merge_into
from runyoro_llm_data_pipeline_spark.lake.table import (
    DELETED,
    LINEAGE_DIR,
    VERSION_LSN,
    VERSION_TS,
    CommitConflictError,
    LakeTable,
)


def _write_lineage_driver_side(
    table: LakeTable, version: int, batch_id: int, stats: list[dict]
) -> str:
    """Lineage rows are tiny driver-side data — write them with pyarrow
    directly instead of scheduling a Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import uuid

    rel = os.path.join(LINEAGE_DIR, f"v{version:08d}-{uuid.uuid4().hex[:8]}")
    out_dir = os.path.join(table.path, rel)
    os.makedirs(out_dir, exist_ok=True)
    t = pa.table(
        {
            "batch_id": pa.array([int(batch_id)] * len(stats), pa.int64()),
            "bucket": pa.array([int(s["__bucket"]) for s in stats], pa.int32()),
            "min_lsn": pa.array([int(s["min_lsn"]) for s in stats], pa.int64()),
            "max_lsn": pa.array([int(s["max_lsn"]) for s in stats], pa.int64()),
            "row_count": pa.array([int(s["row_count"]) for s in stats], pa.int64()),
            "snapshot_version": pa.array([int(version)] * len(stats), pa.int64()),
        }
    )
    pq.write_table(t, os.path.join(out_dir, "part-00000.parquet"))
    return rel


def _footer_stats(table: LakeTable, entries: list[dict]) -> list[dict]:
    """Per-bucket (min_lsn, max_lsn, row_count) from the written files'
    parquet footers — no Spark job, exact, and O(files) driver-side.
    Footers are fetched with a thread pool: this sits on the serial
    commit path of every batch, and ~64 sequential footer opens are a
    fixed cost that eats scaling headroom on fast multi-executor runs."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    def one(e: dict):
        md = pq.ParquetFile(os.path.join(table.path, e["path"])).metadata
        lsn_idx = next(
            i for i in range(md.num_columns)
            if md.schema.column(i).name == VERSION_LSN
        )
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(lsn_idx).statistics
            if st is not None and st.has_min_max:
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        return e["bucket"], md.num_rows, lo, hi

    with ThreadPoolExecutor(max_workers=min(16, max(len(entries), 1))) as ex:
        results = list(ex.map(one, entries))

    agg: dict[int, dict] = {}
    for bucket, n_rows, lo, hi in results:
        b = agg.setdefault(
            bucket,
            {"__bucket": bucket, "min_lsn": None, "max_lsn": None, "row_count": 0},
        )
        b["row_count"] += n_rows
        if lo is not None:
            b["min_lsn"] = lo if b["min_lsn"] is None else min(b["min_lsn"], lo)
            b["max_lsn"] = hi if b["max_lsn"] is None else max(b["max_lsn"], hi)
    return [
        {**s, "min_lsn": s["min_lsn"] if s["min_lsn"] is not None else -1,
         "max_lsn": s["max_lsn"] if s["max_lsn"] is not None else -1}
        for s in sorted(agg.values(), key=lambda s: s["__bucket"])
    ]


def _commit(
    table: LakeTable,
    snap,
    plan: dict,
    batch_id: int,
    stats: list[dict],
    n_rejected: int,
    t_start: float | None = None,
    summary_extra: dict | None = None,
) -> dict[str, Any]:
    import time

    sec = round(time.perf_counter() - t_start, 3) if t_start else None
    version = plan["version"]
    if stats:
        min_lsn = min(s["min_lsn"] for s in stats)
        max_lsn = max(s["max_lsn"] for s in stats)
    else:
        min_lsn = max_lsn = -1
    lineage_rel = _write_lineage_driver_side(table, version, batch_id, stats)
    table.commit(
        new_files=plan["new_files"],
        carried_files=plan["carried_files"],
        schema=plan["schema"],
        applied_update={str(batch_id): [int(min_lsn), int(max_lsn)]},
        summary_update={
            "last_batch_id": int(batch_id),
            "watermark_lsn": max(
                int(snap.summary.get("watermark_lsn", -1)), int(max_lsn)
            ),
            # per-batch job metrics, queryable from the snapshot history
            "last_batch_sec": sec,
            "last_batch_keys": sum(s["row_count"] for s in stats),
            **(summary_extra or {}),
        },
        lineage_rel_path=lineage_rel,
        parent=snap,
    )
    return {
        "status": "applied",
        "batch_id": batch_id,
        "sec": sec,
        "version": version,
        "affected_buckets": plan["affected_buckets"],
        "rejected_rows": n_rejected,
        "applied_keys": sum(s["row_count"] for s in stats),
        "min_lsn": min_lsn,
        "max_lsn": max_lsn,
    }


def _normalizer(impl: str):
    """P2 text normalization column fn: 'jvm' = whole-stage-codegen regex
    (fast path; Unicode-version caveat in operators/text.py), 'pandas' =
    Arrow-batched CPython regex (bit-exact vs the reference)."""
    from runyoro_llm_data_pipeline_spark.operators import text as t

    return (
        t.clean_and_preprocess_text_pandas if impl == "pandas"
        else t.clean_and_preprocess_text_col
    )


def _apply_mor(
    spark: SparkSession,
    table: LakeTable,
    events: DataFrame,
    batch_id: int,
    normalize_text: bool,
    key_cols: tuple[str, ...],
    snap,
    collapse_impl: str = "maxby",
    normalize_impl: str = "jvm",
    summary_extra: dict | None = None,
) -> dict[str, Any]:
    import time

    t_start = time.perf_counter()
    # admission accounting (total / valid / late) rides the write job's own
    # scan via ONE Observation placed BELOW the validity filter, so n_total
    # counts exactly the rows this batch frame produces — filtered sources
    # (e.g. an lsn-range scan of a shared log) are counted correctly, and
    # no separate count job or footer arithmetic is needed. Late events
    # (SURVEY §2.8): at or below the committed lsn watermark — replays or
    # out-of-order stragglers, safe under latest-wins but surfaced.
    watermark = int(snap.summary.get("watermark_lsn", -1))
    cond = validity_condition()
    obs = Observation(f"admit_b{batch_id}_v{snap.version}")
    conformed = conform_events(events).observe(
        obs,
        F.count(F.lit(1)).alias("n_total"),
        F.sum(cond.cast("long")).alias("n_valid"),
        F.sum((cond & (F.col("lsn") <= F.lit(watermark))).cast("long")).alias(
            "n_late"
        ),
    )
    valid = conformed.filter(cond)
    if normalize_text:
        valid = valid.withColumn("text", _normalizer(normalize_impl)(F.col("text")))

    keys = list(key_cols)
    if collapse_impl == "arrow":
        # one shuffle (bucket-aligned) + Arrow-batched dedup; the write
        # below streams straight through without repartitioning
        collapsed = collapse_latest_wins_arrow(
            valid, keys=key_cols, partition_expr=table.bucket_expr(key_cols[0])
        )
        pre_partitioned = True
    elif collapse_impl == "bucket":
        # one shuffle total, pure JVM: fine-partitioned exchange whose
        # partitioning satisfies the aggregate's clustering (no second
        # exchange) and is already bucket-aligned for the write
        collapsed = collapse_latest_wins_bucketed(
            valid, keys=key_cols, key_col=key_cols[0],
            num_buckets=table.num_buckets,
        )
        pre_partitioned = True
    else:
        # pure-JVM map-side-combinable aggregate; needs a second (cheap,
        # post-collapse) shuffle to bucket-align the write
        collapsed = collapse_latest_wins(valid, keys=key_cols)
        pre_partitioned = False
    schema = evolve_schema(snap.schema(), collapsed)
    payload = payload_columns(collapsed, keys)
    incoming = collapsed.select(
        *keys,
        *payload,
        F.col("__max_event_ts").alias(VERSION_TS),
        F.col("__max_lsn").alias(VERSION_LSN),
        (F.col("__op") == "delete").alias(DELETED),
        table.bucket_expr(key_cols[0]).alias("__bucket"),
    )
    version = snap.version + 1
    new_files = table.write_data_files(
        incoming, version, kind="delta", pre_partitioned=pre_partitioned
    )
    stats = _footer_stats(table, new_files)
    metrics = obs.get
    # F.sum over an empty batch observes NULL (count observes 0); guard all
    # three so an empty poll commits a no-op batch instead of raising
    n_total = int(metrics["n_total"] or 0)
    n_rejected = n_total - int(metrics["n_valid"] or 0)
    n_late = int(metrics["n_late"] or 0)
    plan = {
        "new_files": new_files,
        "carried_files": list(snap.files),
        "schema": schema,
        "affected_buckets": sorted({e["bucket"] for e in new_files}),
        "version": version,
    }
    result = _commit(
        table, snap, plan, batch_id, stats, n_rejected, t_start, summary_extra
    )
    result["late_events"] = n_late
    return result


def apply_batch(
    spark: SparkSession,
    table: LakeTable,
    events: DataFrame,
    batch_id: int,
    normalize_text: bool = True,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    mode: str = "mor",
    collapse_impl: str = "maxby",
    normalize_impl: str = "jvm",
    quarantine_dir: str | None = None,
    summary_extra: dict | None = None,
    max_commit_retries: int = 3,
) -> dict[str, Any]:
    """``mode='mor'`` (default — the high-throughput path all published
    numbers use) appends per-bucket delta files on a two-job graph
    (write-optimized — pair with ``table.compact()``); ``mode='cow'``
    rewrites affected buckets pre-collapsed (read-optimized).
    ``collapse_impl``: 'arrow' = single-shuffle mapInPandas dedup,
    'maxby' = JVM aggregate + bucket repartition. ``normalize_impl``:
    'jvm' fast path or 'pandas' CPython-bit-exact path.

    **Optimistic concurrency with bounded retry**: if another writer
    commits between this call's snapshot read and its pointer swap (e.g.
    an overlapping cron launch of the reference's run-again-forever loop,
    ``train_llm.py:126-129``), the atomic commit raises
    ``CommitConflictError``; this call then re-reads the fresh snapshot
    and retries up to ``max_commit_retries`` times. The applied-offset
    gate is re-checked on every attempt, so if the competing writer
    applied the SAME batch the retry degrades to ``status='skipped'`` —
    exactly-once holds under any interleaving. Data files staged by a
    lost attempt are unreferenced and reclaimed by ``cleanup_orphans``."""
    snap = table.current()
    if quarantine_dir:
        # materialize rejected rows for inspection/replay-after-fix —
        # generalizes the reference's skip-and-log of unsupported sources
        # (scripts/process_raw_data.py:52). Optional: costs one extra
        # filtered scan of the batch only when enabled. Gated on the same
        # applied/floor test as the apply itself so a re-delivered batch
        # stays fully side-effect free (no Spark jobs, no rewrite of the
        # quarantine parquet a prior delivery already produced).
        floor0 = int(snap.summary.get("applied_floor", -1))
        if str(batch_id) not in snap.applied and batch_id > floor0:
            _, rejected = validate_events(events)
            rejected.write.mode("overwrite").parquet(
                os.path.join(quarantine_dir, f"batch_{batch_id:05d}")
            )

    attempt = 0
    while True:
        # refresh handle state the snapshot is authoritative for: a rival
        # rebucket() between attempts would otherwise leave this handle
        # computing bucket_expr against the old modulus (the same staleness
        # class as the rollback num_buckets fix, lake/table.py:400)
        table.num_buckets = int(
            snap.summary.get("num_buckets", table.num_buckets)
        )
        floor = int(snap.summary.get("applied_floor", -1))
        if str(batch_id) in snap.applied or batch_id <= floor:
            return {
                "status": "skipped", "batch_id": batch_id,
                "version": snap.version,
            }
        try:
            if mode == "mor":
                return _apply_mor(
                    spark, table, events, batch_id, normalize_text,
                    key_cols, snap, collapse_impl=collapse_impl,
                    normalize_impl=normalize_impl,
                    summary_extra=summary_extra,
                )

            import time

            t_start = time.perf_counter()
            valid, rejected = validate_events(events)
            n_rejected = rejected.count()
            if normalize_text:
                valid = valid.withColumn(
                    "text", _normalizer(normalize_impl)(F.col("text"))
                )
            changes = collapse_latest_wins(valid, keys=key_cols)
            plan = merge_into(
                spark, table, changes, key_cols=key_cols, snap=snap
            )
            return _commit(
                table, snap, plan, batch_id, plan["bucket_stats"],
                n_rejected, t_start, summary_extra,
            )
        except CommitConflictError:
            attempt += 1
            if attempt > max_commit_retries:
                raise
            snap = table.current()
