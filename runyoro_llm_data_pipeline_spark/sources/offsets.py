"""Offset-range ingestion — the Kafka/binlog-shaped front-end.

Where ``CdcIngest`` tails discrete batch *directories*, this source models
a partitioned, ever-growing log addressed by **per-partition offsets**
(Kafka topic-partitions, binlog file+position, shard sequence numbers):

* the log exposes ``latest_offsets()`` and ``read(since, until)``;
* the table's committed snapshot stores the applied offsets per log
  partition (``summary["log_offsets"]``) — checkpoint and data commit in
  the same atomic snapshot, so exactly-once needs no external offset
  store (the same property Kafka's idempotent sinks get from storing
  offsets in the transaction);
* each run reads ``(applied, latest]`` per partition, applies it as one
  batch, and commits data + advanced offsets together. Crash anywhere →
  rerun re-reads the same range (idempotent by the batch gate + latest-
  wins commutativity).

``ParquetOffsetLog`` implements the protocol over a partitioned Parquet
directory (``log_part=N/``) with monotone ``lsn`` per partition — range
reads are lsn predicates that push into row-group stats, so catching up a
small range never scans old log segments. A real Kafka source implements
the same two methods with ``spark.read.format("kafka")`` offsets.
"""

from __future__ import annotations

import os
from typing import Any, Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
from runyoro_llm_data_pipeline_spark.cdc.events import TRANSCRIPT_SCHEMA
from runyoro_llm_data_pipeline_spark.lake.merge import with_internal_schema
from runyoro_llm_data_pipeline_spark.lake.table import COMPACT_MAX_FILES, LakeTable

OFFSETS_KEY = "log_offsets"
PART_COL = "log_part"


class OffsetLog(Protocol):
    def latest_offsets(self, spark: SparkSession) -> dict[str, int]: ...

    def read(
        self, spark: SparkSession, since: dict[str, int], until: dict[str, int]
    ) -> DataFrame: ...


class ParquetOffsetLog:
    """Partitioned Parquet log: ``<root>/log_part=N/*.parquet``, events
    carry monotone ``lsn`` within each partition."""

    def __init__(self, root: str):
        self.root = root
        # (relpath -> (size, mtime, file_max_lsn)) — head-discovery cache so
        # each poll stats every file but opens footers only for NEW ones
        self._footer_cache: dict[str, tuple[int, float, int | None]] = {}

    def append(self, events: DataFrame, n_files_per_part: int = 2) -> None:
        """Producer helper: append events (must carry ``log_part``)."""
        (
            events.repartition(n_files_per_part, PART_COL)
            .write.mode("append")
            .partitionBy(PART_COL)
            .parquet(self.root)
        )

    @staticmethod
    def _file_max_lsn(path: str) -> int | None:
        """Max lsn of one file from its parquet footer statistics —
        O(footer), no data read, no Spark job."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        idx = next(
            (i for i in range(md.num_columns) if md.schema.column(i).name == "lsn"),
            None,
        )
        if idx is None:
            return None
        hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is not None and st.has_min_max:
                hi = st.max if hi is None else max(hi, st.max)
        return hi

    def latest_offsets(self, spark: SparkSession) -> dict[str, int]:
        """Per-partition head offsets from parquet *footers*, driver-side:
        the poll cost is O(all files) stat calls + O(new files) footer
        reads (cached by (size, mtime)) — never a Spark scan of the
        ever-growing log. A real Kafka source gets this from the broker's
        end-offsets API; a binlog tail from the current file+position."""
        if not os.path.isdir(self.root):
            return {}
        out: dict[str, int] = {}
        for entry in sorted(os.listdir(self.root)):
            if not entry.startswith(f"{PART_COL}="):
                continue
            part = entry.split("=", 1)[1]
            pdir = os.path.join(self.root, entry)
            hi: int | None = None
            for fn in os.listdir(pdir):
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(pdir, fn)
                rel = os.path.join(entry, fn)
                try:
                    st = os.stat(full)
                except OSError:
                    continue
                cached = self._footer_cache.get(rel)
                if cached is None or cached[0] != st.st_size or cached[1] != st.st_mtime:
                    import pyarrow as pa

                    try:
                        fmax = self._file_max_lsn(full)
                    except (OSError, pa.ArrowInvalid):
                        # a file mid-write by the producer (torn footer) or
                        # corrupt: skip WITHOUT caching so the next poll
                        # retries it once the writer finishes
                        continue
                    self._footer_cache[rel] = (st.st_size, st.st_mtime, fmax)
                else:
                    fmax = cached[2]
                if fmax is not None:
                    hi = fmax if hi is None else max(hi, fmax)
            if hi is not None:
                out[part] = int(hi)
        return out

    def read(
        self, spark: SparkSession, since: dict[str, int], until: dict[str, int]
    ) -> DataFrame:
        df = spark.read.parquet(self.root)
        cond = F.lit(False)
        for part, hi in until.items():
            lo = since.get(part, -1)
            cond = cond | (
                (F.col(PART_COL) == int(part))
                & (F.col("lsn") > lo)
                & (F.col("lsn") <= hi)
            )
        return df.filter(cond).drop(PART_COL)


class OffsetRangeIngest:
    """Tail an OffsetLog into the lake table, exactly-once per offset
    range, offsets checkpointed inside the committed snapshot."""

    def __init__(
        self,
        table_path: str,
        log: OffsetLog,
        num_buckets: int = 16,
        mode: str = "mor",
        normalize_text: bool = True,
        compact_max_files: int | None = COMPACT_MAX_FILES,
    ):
        self.table_path = table_path
        self.log = log
        self.num_buckets = num_buckets
        self.mode = mode
        self.normalize_text = normalize_text
        self.compact_max_files = compact_max_files

    def table(self) -> LakeTable:
        if os.path.exists(os.path.join(self.table_path, "_VERSION")):
            return LakeTable.load(self.table_path)
        return LakeTable.create(
            self.table_path,
            with_internal_schema(TRANSCRIPT_SCHEMA),
            num_buckets=self.num_buckets,
        )

    def applied_offsets(self) -> dict[str, int]:
        return dict(self.table().current().summary.get(OFFSETS_KEY, {}))

    def run_once(self, spark: SparkSession) -> dict[str, Any] | None:
        """Apply everything between the committed offsets and the log
        head as ONE batch; returns None when caught up. The batch id is
        derived from the target offsets, so a crash after commit makes
        the retry a structural no-op and a crash before commit re-reads
        the identical range."""
        table = self.table()
        snap = table.current()
        since = dict(snap.summary.get(OFFSETS_KEY, {}))
        until = self.log.latest_offsets(spark)
        pending = {
            p: hi for p, hi in until.items() if hi > since.get(p, -1)
        }
        if not pending:
            return None
        # deterministic batch id from the range end — stable across retries
        # AND across processes (md5, not Python's seeded hash())
        import hashlib

        digest = hashlib.md5(
            repr(sorted(pending.items())).encode()
        ).hexdigest()
        batch_id = int(digest[:15], 16)
        events = self.log.read(spark, since, pending)
        new_offsets = {**since, **pending}
        result = apply_batch(
            spark,
            table,
            events,
            batch_id,
            normalize_text=self.normalize_text,
            mode=self.mode,
            # offsets land INSIDE the same snapshot as the data — the
            # checkpoint can never disagree with the table
            summary_extra={OFFSETS_KEY: new_offsets},
        )
        if self.mode == "mor" and self.compact_max_files is not None:
            hot = table.buckets_needing_compaction(self.compact_max_files)
            if hot:
                table.compact(spark, hot)
        return {**result, "offsets": new_offsets}

    def run(self, spark: SparkSession, max_rounds: int = 100) -> list[dict]:
        out = []
        for _ in range(max_rounds):
            r = self.run_once(spark)
            if r is None:
                break
            out.append(r)
        return out
