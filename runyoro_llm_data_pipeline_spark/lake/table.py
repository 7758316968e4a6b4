"""Snapshot-atomic lake table (Iceberg-style semantics, zero extra jars).

The reference's durability story is a single JSON ledger read fully, appended,
and atomically rewritten per ingest run (``scripts/orchestrator.py:34-40,52-61,
184-186``) — that one file is simultaneously its commit log, lineage table and
dedup index. This module generalizes it into a real table format:

* **data** lives in immutable Parquet files, grouped by a hash bucket of the
  record key (``bucket = pmod(xxhash64(conv_id), num_buckets)``) so a CDC
  batch only rewrites the buckets it touches (copy-on-write MERGE with
  partition pruning by construction);
* **snapshots** are JSON manifests (schema + file list + summary properties +
  applied-offset map) committed by atomic ``os.rename`` of a version pointer —
  the same all-or-nothing property as the reference's ledger rewrite, and the
  same mechanism Iceberg's HadoopTableOperations uses for file-system
  catalogs;
* **exactly-once** falls out: applied batch offsets are recorded in the same
  snapshot that contains their data, so a crash before the pointer swap
  leaves both invisible and replay is safe (idempotent, cf.
  ``scripts/orchestrator.py:88-101`` duplicate-skip);
* **schema evolution** is additive: each snapshot carries the full Spark
  schema; readers pass it explicitly so older files missing a column yield
  nulls (generalizing the ledger's dynamic additive entry shapes,
  ``processed_data/processed_data_metadata.json``).

Scale notes (100 TB / 1000 executors): the manifest lists O(num_buckets ×
files-per-bucket) entries handled driver-side — same order as Iceberg's
manifest lists; data access is executor-side Parquet scans of only the
pruned file set. Single-writer commit (one streaming/batch driver) is
assumed, as in any single-sink CDC apply job.

Manifest hygiene at 100 TB: MOR keeps per-bucket live-file counts bounded
by ``compact_max_files``, so the manifest stays O(num_buckets ×
compact_max_files) regardless of history; ``expire_snapshots`` bounds the
manifest *chain* and ``cleanup_orphans`` reclaims de-referenced files
(interaction tested under churn in ``tests/test_round2_fixes.py``).
Incremental consumers must poll within the retention window or take the
documented ``IncrementalHistoryError`` → full-read fallback. If a
deployment ever needs >10^5 buckets, the next step is Iceberg-style
manifest SPLITTING (one manifest file per bucket range, a manifest-list on
top): ``Snapshot.files`` is already the only structure that would shard,
and nothing else reads it directly.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

VERSION_POINTER = "_VERSION"
TAGS_FILE = "tags.json"
SNAP_DIR = "snapshots"
DATA_DIR = "data"
LINEAGE_DIR = "lineage"

# internal CDC version/tombstone columns stored in data files, hidden from
# public reads (deletes persist as tombstones so batch application is
# commutative — see lake/merge.py)
VERSION_TS = "_cdc_event_ts"
VERSION_LSN = "_cdc_lsn"
DELETED = "_cdc_deleted"
INTERNAL_COLS = (VERSION_TS, VERSION_LSN, DELETED)

# MOR compaction trigger shared by every ingest front-end: a bucket is
# compacted once it holds more than this many delta files. A data commit
# writes one delta file per bucket it touches, so 1 compacts every
# second batch.
COMPACT_MAX_FILES = 1


@dataclass
class Snapshot:
    version: int
    parent: int | None
    schema_json: dict[str, Any]
    files: list[dict[str, Any]]  # {path(rel), bucket, kind, added_v}
    applied: dict[str, list[int]]  # batch_id(str) -> [min_lsn, max_lsn]
    summary: dict[str, Any] = field(default_factory=dict)
    lineage_files: list[str] = field(default_factory=list)
    # 'data' = the commit added logical changes (batch apply);
    # 'maintenance' = pure rewrite (compaction / rebucket) — no new
    # logical content, excluded from incremental consumption
    commit_type: str = "data"
    # set on snapshots STAGED by a multi-table transaction (lake/txn.py):
    # absolute path of the transaction record. A staged snapshot is not a
    # durable commit by itself — recover() adopts it only once the record
    # says 'committed' (both-or-neither visibility across tables).
    pending_txn: str | None = None

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.schema_json)

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "parent": self.parent,
                "schema": self.schema_json,
                "files": self.files,
                "applied": self.applied,
                "summary": self.summary,
                "lineage_files": self.lineage_files,
                "commit_type": self.commit_type,
                **(
                    {"pending_txn": self.pending_txn}
                    if self.pending_txn is not None
                    else {}
                ),
            },
            indent=1,
        )

    @staticmethod
    def from_json(raw: str) -> "Snapshot":
        d = json.loads(raw)
        return Snapshot(
            version=d["version"],
            parent=d.get("parent"),
            schema_json=d["schema"],
            files=d["files"],
            applied=d.get("applied", {}),
            summary=d.get("summary", {}),
            lineage_files=d.get("lineage_files", []),
            commit_type=d.get("commit_type", "data"),
            pending_txn=d.get("pending_txn"),
        )


class CommitConflictError(RuntimeError):
    """Another writer committed this snapshot version first. Re-read the
    table and re-plan the merge against the new current snapshot."""


class IncrementalHistoryError(RuntimeError):
    """The snapshot chain or data files needed for an incremental read
    were expired; the consumer must fall back to a full read."""


def _atomic_write(path: str, content: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(content)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, path)  # POSIX atomic — the commit point


@contextlib.contextmanager
def _file_lock(path: str):
    """Advisory exclusive lock (flock) serializing read-modify-write of a
    shared sidecar file (tags.json). Manifest commits don't need this —
    they CAS via ``_exclusive_write`` — but tag mutations rewrite one
    shared map, and last-writer-wins there can un-pin a snapshot that the
    next expire/cleanup pass then permanently deletes."""
    fd = os.open(path, os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _exclusive_write(path: str, content: str) -> None:
    """Create-exclusive write: fails with CommitConflictError if the file
    already exists — the optimistic-concurrency primitive (same contract
    as Iceberg's version-file CAS for file-system catalogs)."""
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError as e:
        raise CommitConflictError(
            f"snapshot {os.path.basename(path)} was committed concurrently"
        ) from e
    with os.fdopen(fd, "w") as fh:
        fh.write(content)
        fh.flush()
        os.fsync(fh.fileno())


def _harvest_key_ranges(root: str, entries: list[dict], key: str) -> None:
    """Attach per-file ``min_key``/``max_key`` of ``key`` (from parquet
    footers, threaded, O(files) driver-side — the same trick as the
    lineage footer harvest) to manifest entries in place. Iceberg keeps the
    same per-data-file column bounds in its manifests; here they let a
    point lookup prune *files* inside the already-pruned bucket before
    parquet row-group stats prune pages. Only meaningful for key-sorted
    writes (compaction/rebucket) where files cover disjoint key ranges.

    Any stats gap (missing footer statistics, type surprises, truncated
    bounds) simply leaves the entry without a range — an unranged file is
    always read, so the harvest can only cost performance, never
    correctness."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    def one(e: dict) -> None:
        try:
            md = pq.ParquetFile(os.path.join(root, e["path"])).metadata
            idx = next(
                (
                    i
                    for i in range(md.num_columns)
                    if md.schema.column(i).name == key
                ),
                None,
            )
            if idx is None:
                return
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return  # partial stats → make no claim for this file
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                e["min_key"], e["max_key"] = lo, hi
        except Exception:
            return

    with ThreadPoolExecutor(max_workers=min(16, max(len(entries), 1))) as ex:
        list(ex.map(one, entries))


def collapse_stored(df: DataFrame, keys: list[str]) -> DataFrame:
    """Latest-wins collapse of *stored* rows (base ∪ delta files) by the
    internal version columns — the read-side half of merge-on-read. Same
    map-side-combinable ``max_by`` as the write path, so hot keys are
    partially collapsed before the shuffle."""
    payload = [c for c in df.columns if c not in keys]
    ordv = F.struct(F.col(VERSION_TS), F.col(VERSION_LSN))
    return (
        df.groupBy(*keys)
        .agg(F.max_by(F.struct(*payload), ordv).alias("__w"))
        .select(*keys, *[F.col(f"__w.{c}").alias(c) for c in payload])
    )


class LakeTable:
    """A bucketed, snapshot-versioned Parquet table with atomic commits.

    Two write disciplines share the format (file entries carry
    ``kind: base|delta``):

    * **copy-on-write** — affected buckets are rewritten pre-collapsed;
      reads are plain scans. Best for read-heavy tables / small batches.
    * **merge-on-read** — each batch appends per-bucket delta files
      (O(batch) write cost regardless of table size); reads collapse
      base ∪ deltas per key, and ``compact()`` folds deltas back into base
      files per bucket. Best for high-rate CDC apply — the 10^10-event
      headline path.
    """

    # a partial snapshot manifest older than this is considered abandoned
    # by a dead writer and may be reclaimed during commit
    stale_manifest_seconds: float = 300.0

    def __init__(self, path: str, num_buckets: int = 16):
        self.path = os.path.abspath(path)
        self.num_buckets = num_buckets
        self.key_cols = ["conv_id", "turn_idx"]

    # ---------------------------------------------------------------- setup
    @staticmethod
    def create(
        path: str,
        schema: T.StructType,
        num_buckets: int = 16,
        key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    ) -> "LakeTable":
        os.makedirs(os.path.join(path, SNAP_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, DATA_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, LINEAGE_DIR), exist_ok=True)
        t = LakeTable(path, num_buckets)
        t.key_cols = list(key_cols)
        if t.current_version() is None:
            snap = Snapshot(
                version=0,
                parent=None,
                schema_json=schema.jsonValue(),
                files=[],
                applied={},
                summary={"num_buckets": num_buckets, "key_cols": list(key_cols)},
            )
            t._write_snapshot(snap)
        else:
            t.recover()
            cur = t.current()
            t.num_buckets = cur.summary.get("num_buckets", num_buckets)
            t.key_cols = cur.summary.get("key_cols", list(key_cols))
        return t

    @staticmethod
    def load(path: str) -> "LakeTable":
        t = LakeTable(path)
        t.recover()
        cur = t.current()
        t.num_buckets = cur.summary.get("num_buckets", 16)
        t.key_cols = cur.summary.get("key_cols", ["conv_id", "turn_idx"])
        return t

    # ------------------------------------------------------------ snapshots
    def current_version(self) -> int | None:
        ptr = os.path.join(self.path, VERSION_POINTER)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as fh:
            return int(fh.read().strip())

    def snapshot(self, version: int) -> Snapshot:
        with open(os.path.join(self.path, SNAP_DIR, f"v{version:08d}.json")) as fh:
            return Snapshot.from_json(fh.read())

    def current(self) -> Snapshot:
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"no committed snapshot at {self.path}")
        return self.snapshot(v)

    # ----------------------------------------------------------- named refs
    def tags(self) -> dict[str, int]:
        """Named snapshot refs (Iceberg tag semantics): name → version.
        Tagged snapshots survive ``expire_snapshots`` until the tag is
        dropped."""
        p = os.path.join(self.path, TAGS_FILE)
        if not os.path.exists(p):
            return {}
        with open(p) as fh:
            return {k: int(v) for k, v in json.load(fh).items()}

    def tag(self, name: str, version: int | None = None) -> int:
        """Create/overwrite a named ref pointing at ``version`` (default:
        current). The target manifest must exist. The read-modify-write
        is serialized under an flock (two concurrent taggers — or a
        tagger racing a cron ``maintain()`` — must not lose a tag to
        last-writer-wins: a lost tag un-pins a snapshot the next expiry
        pass would permanently delete), and the rewrite itself is atomic
        so readers never see a partial tags file."""
        v = self.current().version if version is None else int(version)
        self.snapshot(v)  # raises if the manifest doesn't exist
        with _file_lock(os.path.join(self.path, TAGS_FILE + ".lock")):
            t = self.tags()
            t[name] = v
            _atomic_write(
                os.path.join(self.path, TAGS_FILE), json.dumps(t, indent=1)
            )
        return v

    def drop_tag(self, name: str) -> None:
        with _file_lock(os.path.join(self.path, TAGS_FILE + ".lock")):
            t = self.tags()
            t.pop(name, None)
            _atomic_write(
                os.path.join(self.path, TAGS_FILE), json.dumps(t, indent=1)
            )

    def resolve_ref(self, ref: int | str) -> int:
        """int → itself; str → the tagged version (KeyError if unknown)."""
        if isinstance(ref, str):
            t = self.tags()
            if ref not in t:
                raise KeyError(f"unknown tag {ref!r}; known: {sorted(t)}")
            return t[ref]
        return int(ref)

    def rollback(self, version_or_ref: int | str) -> Snapshot:
        """Restore the table to a prior snapshot's state by committing a
        NEW snapshot with that snapshot's files, schema, applied-offset
        ledger, and summary (history-preserving, Iceberg-style rollback):
        versions stay monotonic so the parent-chain invariants of
        ``recover()``/``read_incremental`` hold, and batches applied
        after the target become re-ingestable again because the ledger
        (and its ``applied_floor``/watermark summary keys) are restored
        wholesale, not merged."""
        target = self.snapshot(self.resolve_ref(version_or_ref))
        cur = self.current()
        snap = self.commit(
            new_files=[],
            carried_files=list(target.files),
            schema=target.schema(),
            applied_update={},
            applied_replace=dict(target.applied),
            summary_replace=dict(target.summary),
            summary_update={
                "rolled_back_from": cur.version,
                "rolled_back_to": target.version,
            },
            parent=cur,
            commit_type="rollback",
        )
        # Rolling back across a rebucket() must also restore the live
        # object's modulus (mirrors LakeTable.open's summary read) —
        # otherwise bucket_expr/candidate_files_for_key silently compute
        # against the wrong bucket count until the table is reopened.
        self.num_buckets = target.summary.get("num_buckets", self.num_buckets)
        return snap

    def maintain(
        self,
        spark: SparkSession,
        compact_max_files: int = COMPACT_MAX_FILES,
        target_file_rows: int | None = None,
        truncate_keep: int = 4096,
        keep_last_snapshots: int = 4,
        orphan_age_seconds: float = 3600,
    ) -> dict[str, int]:
        """One-call production maintenance pass — the mix the soak bench
        runs inline (BENCH.md §0b): compact read-amplified buckets, fold
        the applied ledger into its low watermark, expire old snapshots
        (tagged ones retained), reclaim orphaned files. Every step is an
        independent crash-safe commit or idempotent cleanup; safe to run
        from a cron alongside the ingester (single-writer discipline
        applies to the pair as a whole)."""
        hot = self.buckets_needing_compaction(compact_max_files)
        return {
            "compacted_buckets": (
                self.compact(spark, hot, target_file_rows=target_file_rows)
                if hot
                else 0
            ),
            "applied_truncated": self.truncate_applied(keep_last=truncate_keep),
            "snapshots_expired": self.expire_snapshots(
                keep_last=keep_last_snapshots
            ),
            "orphans_removed": self.cleanup_orphans(
                min_age_seconds=orphan_age_seconds
            ),
        }

    def _valid_orphan_snapshot(self, version: int) -> Snapshot | None:
        """Parse snapshots/vN.json if it exists and is a complete, correctly
        chained manifest (a crashed writer can leave a partial file — the
        create-exclusive fd exists before the content is fsynced)."""
        p = os.path.join(self.path, SNAP_DIR, f"v{version:08d}.json")
        try:
            with open(p) as fh:
                snap = Snapshot.from_json(fh.read())
        except (OSError, ValueError, KeyError):
            return None
        if snap.version != version or snap.parent != version - 1:
            return None
        if snap.pending_txn is not None:
            # staged by a multi-table transaction: durable ONLY if the
            # transaction record decided 'committed' and names this
            # (table, version). An undecided/aborted/missing record means
            # the stage is not a commit — never adopt it (the
            # stale-manifest reclaim in commit() garbage-collects it).
            try:
                with open(snap.pending_txn) as fh:
                    rec = json.load(fh)
            except (OSError, ValueError):
                return None
            if rec.get("status") != "committed":
                return None
            if not any(
                p.get("table") == self.path and p.get("version") == version
                for p in rec.get("participants", [])
            ):
                return None
        return snap

    def recover(self) -> int | None:
        """Roll the version pointer forward over any fully-written snapshot
        manifests it doesn't reference yet. A crash between the
        create-exclusive snapshot write and the pointer rename would
        otherwise wedge the table: the pointer stays at vN-1, every new
        commit plans vN and hits CommitConflictError forever. The snapshot
        file is fsynced before the pointer moves, so a valid vN manifest
        IS a durable commit — adopting it merely finishes the crashed
        writer's job (the pointer write is idempotent, so racing with a
        live writer is harmless). Returns the new current version if the
        pointer moved, else None."""
        v = self.current_version()
        if v is None:
            return None
        moved = None
        while self._valid_orphan_snapshot(v + 1) is not None:
            v += 1
            moved = v
        if moved is not None:
            _atomic_write(os.path.join(self.path, VERSION_POINTER), str(moved))
        return moved

    def history(self) -> list[Snapshot]:
        out, v = [], self.current_version()
        while v is not None:
            s = self.snapshot(v)
            out.append(s)
            v = s.parent
        return list(reversed(out))

    def _write_snapshot(
        self,
        snap: Snapshot,
        update_pointer: bool = True,
        exclusive: bool = False,
    ) -> None:
        """``exclusive=True`` = optimistic-concurrency commit: creating
        snapshot vN is the CAS — if another writer already produced vN the
        commit raises CommitConflictError and nothing (incl. the pointer)
        changes; the caller re-reads and re-plans. Used for data commits;
        rewrite-in-place callers (expire_snapshots re-parenting) keep the
        plain atomic rename."""
        snap_path = os.path.join(self.path, SNAP_DIR, f"v{snap.version:08d}.json")
        if exclusive:
            _exclusive_write(snap_path, snap.to_json())
        else:
            _atomic_write(snap_path, snap.to_json())
        if update_pointer:
            _atomic_write(
                os.path.join(self.path, VERSION_POINTER), str(snap.version)
            )

    # ----------------------------------------------------------------- read
    def read(
        self,
        spark: SparkSession,
        version: int | str | None = None,
        include_internal: bool = False,
    ) -> DataFrame:
        """Read the table at a snapshot (time travel) — by version number
        or by tag name (``table.read(spark, "certified-v1")``). Explicit
        schema makes older files missing newly-added columns yield nulls.
        By default the public view is returned: tombstones filtered,
        internal CDC version columns dropped."""
        snap = (
            self.current()
            if version is None
            else self.snapshot(self.resolve_ref(version))
        )
        schema = snap.schema()
        paths = [os.path.join(self.path, f["path"]) for f in snap.files]
        if not paths:
            df = spark.createDataFrame([], schema)
        else:
            df = spark.read.schema(schema).parquet(*paths)
        # merge-on-read: when any delta files exist, collapse base ∪ deltas
        # per key before serving (one hash aggregate; pre-collapsed COW
        # snapshots skip this entirely)
        if any(f.get("kind", "base") == "delta" for f in snap.files):
            df = collapse_stored(df, self.key_cols)
        if include_internal or DELETED not in df.columns:
            return df
        return df.filter(~F.coalesce(F.col(DELETED), F.lit(False))).drop(
            *[c for c in INTERNAL_COLS if c in df.columns]
        )

    def read_buckets(
        self, spark: SparkSession, buckets: set[int], snap: Snapshot
    ) -> DataFrame:
        schema = snap.schema()
        paths = [
            os.path.join(self.path, f["path"])
            for f in snap.files
            if f["bucket"] in buckets
        ]
        if not paths:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*paths)

    def read_conversation(self, spark: SparkSession, conv_id: str) -> DataFrame:
        """Point lookup: read ONE conversation by pruning to its hash
        bucket driver-side (1/num_buckets of the table's files regardless
        of table size), then to the files whose harvested key range covers
        the key (≈1 base file after a size-targeted compaction), then let
        parquet row-group stats narrow further. The per-conversation
        serving path."""
        snap = self.current()
        _bucket, cand = self.candidate_files_for_key(spark, conv_id, snap)
        schema = snap.schema()
        paths = [os.path.join(self.path, f["path"]) for f in cand]
        if not paths:
            df = spark.createDataFrame([], schema)
        else:
            df = spark.read.schema(schema).parquet(*paths)
        if any(f.get("kind", "base") == "delta" for f in cand):
            df = collapse_stored(df, self.key_cols)
        out = df.filter(F.col(self.key_cols[0]) == conv_id)
        if DELETED in out.columns:
            out = out.filter(~F.coalesce(F.col(DELETED), F.lit(False))).drop(
                *[c for c in INTERNAL_COLS if c in out.columns]
            )
        return out

    def read_incremental(
        self, spark: SparkSession, since_version: int
    ) -> DataFrame:
        """Incremental consumption (the downstream-consumer side of CDC):
        stored rows added by **data commits** AFTER ``since_version``,
        collapsed latest-wins, tombstones included so a consumer can
        propagate deletes.

        Walks the snapshot chain from the current version back to
        ``since_version`` and takes, for each data commit, exactly the
        files that commit added (path-diff against its parent manifest —
        the same attribution Iceberg gets from snapshot_id on manifest
        entries). Maintenance commits (compaction / rebucket) are pure
        rewrites of existing content and contribute nothing; crucially,
        a delta file that a LATER compaction folded away is still read
        from its own commit's manifest, so auto-compaction can never
        silently drop changes from an incremental consumer. O(new files).

        MOR data commits deliver exactly the batch's per-key winners; COW
        data commits rewrite whole buckets, so consumers may be
        over-delivered unchanged rows of co-bucketed keys (upsert
        semantics make that safe for any latest-wins consumer).

        Raises ``IncrementalHistoryError`` when the chain or a needed
        file has been expired (``expire_snapshots``/``cleanup_orphans``),
        or when a **rollback** commit sits inside the window — a rollback
        makes the window non-forward-only (rows the consumer already
        holds must be *unwound*, which upsert deltas cannot express), so
        the consumer must resync from the full state."""
        cur = self.current()
        chain: list[Snapshot] = []
        s = cur
        while s.version > since_version:
            if s.commit_type == "rollback":
                raise IncrementalHistoryError(
                    f"v{s.version} is a rollback (to "
                    f"v{s.summary.get('rolled_back_to')}); the window "
                    f"since v{since_version} is not forward-only — fall "
                    "back to a full read"
                )
            chain.append(s)
            if s.parent is None:
                raise IncrementalHistoryError(
                    f"snapshot history before v{s.version} was expired; "
                    f"cannot diff against v{since_version} — fall back to "
                    "a full read"
                )
            try:
                s = self.snapshot(s.parent)
            except FileNotFoundError as e:
                raise IncrementalHistoryError(
                    f"snapshot v{s.parent} manifest is gone (expired); "
                    "fall back to a full read"
                ) from e
        parent_paths = {f["path"] for f in s.files}  # s == since snapshot
        new_paths: list[str] = []
        for snap in reversed(chain):
            if snap.commit_type == "data":
                for f in snap.files:
                    if f["path"] not in parent_paths:
                        new_paths.append(f["path"])
            parent_paths = {f["path"] for f in snap.files}
        schema = cur.schema()
        if not new_paths:
            return spark.createDataFrame([], schema)
        missing = [p for p in new_paths if not os.path.exists(os.path.join(self.path, p))]
        if missing:
            raise IncrementalHistoryError(
                f"{len(missing)} data file(s) from the incremental window "
                f"were removed (e.g. {missing[0]!r}) — history was cleaned "
                "up; fall back to a full read"
            )
        df = spark.read.schema(schema).parquet(
            *[os.path.join(self.path, p) for p in new_paths]
        )
        # latest-wins within the consumed window (a key may appear in
        # several new commits)
        return collapse_stored(df, self.key_cols)

    def was_applied(self, batch_id: int) -> bool:
        """Floor-aware idempotency probe: True iff ``batch_id`` is
        known-consumed — either its ledger entry is live in the current
        snapshot, or it sits at/below the ``applied_floor`` low watermark
        (``truncate_applied`` folded its entry away; the floor's contract
        is that the whole contiguous prefix was applied). This is the
        check ``apply_batch`` runs before doing any work, exposed for
        source connectors that want to prune already-consumed offset
        ranges before even reading them."""
        snap = self.current()
        return (
            str(batch_id) in snap.applied
            or batch_id <= int(snap.summary.get("applied_floor", -1))
        )

    def version_for_batch(self, batch_id: int) -> int:
        """Resolve the snapshot version whose data commit applied
        ``batch_id`` — the bridge from the *producer's* progress unit
        (batch/offset-range id) to the *consumer's* (snapshot version).
        The applying commit is uniquely identified by
        ``commit_type == 'data' and summary.last_batch_id == batch_id``:
        batch ids are single-shot (the idempotency gate skips replays)
        and maintenance commits merely inherit the parent summary.

        Walks newest→oldest, so cost is O(commits since the batch) — the
        common "resume from a recent batch" case touches a handful of
        manifests. Floor-aware failure modes when the walk exhausts
        retained history (``expire_snapshots`` re-parented it away):
        a batch at/below ``applied_floor`` or with a live ledger entry
        was definitely applied but its commit point is expired →
        ``IncrementalHistoryError`` (consumer must full-read); anything
        else was never applied → ``KeyError``."""
        s = self.current()
        while True:
            if (
                s.commit_type == "data"
                and s.summary.get("last_batch_id") == int(batch_id)
            ):
                return s.version
            if s.parent is None:
                break
            try:
                s = self.snapshot(s.parent)
            except FileNotFoundError:
                break
        if self.was_applied(batch_id):
            raise IncrementalHistoryError(
                f"batch {batch_id} was applied but its commit snapshot is "
                "outside retained history (expired) — fall back to a full "
                "read"
            )
        raise KeyError(f"batch {batch_id} was never applied to this table")

    def read_incremental_since_batch(
        self, spark: SparkSession, batch_id: int
    ) -> DataFrame:
        """``read_incremental`` keyed on the last *batch id* the consumer
        saw instead of a snapshot version: everything committed after the
        data commit that applied ``batch_id``, latest-wins collapsed,
        tombstones included. Lets a downstream consumer checkpoint the
        same unit the ingest side checkpoints (the batch stream) without
        tracking lake versions at all."""
        return self.read_incremental(
            spark, since_version=self.version_for_batch(batch_id)
        )

    def create_view(
        self, spark: SparkSession, name: str, version: int | None = None
    ) -> None:
        """Expose the table (tombstone-filtered public view, MOR-collapsed)
        as a temp view so consumers can ``spark.sql`` against it."""
        self.read(spark, version=version).createOrReplaceTempView(name)

    def metrics_history(self) -> list[dict[str, Any]]:
        """Per-commit job metrics from the snapshot chain — the queryable
        form of the reference's ledger entries (throughput report)."""
        out = []
        prev_applied = -1
        for s in self.history():
            if "last_batch_id" not in s.summary:
                prev_applied = max(prev_applied, len(s.applied))
                continue
            # compaction/maintenance commits inherit the parent summary —
            # only snapshots that actually applied a new batch count
            if len(s.applied) <= prev_applied:
                continue
            prev_applied = len(s.applied)
            out.append(
                {
                    "version": s.version,
                    "batch_id": s.summary.get("last_batch_id"),
                    "sec": s.summary.get("last_batch_sec"),
                    "keys": s.summary.get("last_batch_keys"),
                    "watermark_lsn": s.summary.get("watermark_lsn"),
                }
            )
        return out

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        snap = self.current()
        paths = [os.path.join(self.path, p) for p in snap.lineage_files]
        if not paths:
            return spark.createDataFrame([], LINEAGE_SCHEMA)
        return spark.read.schema(LINEAGE_SCHEMA).parquet(*paths)

    # ---------------------------------------------------------------- write
    def bucket_expr(self, key_col: str = "conv_id"):
        return F.pmod(F.xxhash64(F.col(key_col)), F.lit(self.num_buckets)).cast("int")

    def write_data_files(
        self,
        df: DataFrame,
        version: int,
        buckets_hint: int | None = None,
        kind: str = "base",
        pre_partitioned: bool = False,
        sort_cols: list[str] | None = None,
        max_records_per_file: int | None = None,
    ) -> list[dict[str, Any]]:
        """Write ``df`` (must contain ``__bucket``) into this snapshot's data
        dir, one Parquet directory partition per bucket; returns manifest
        entries tagged ``kind`` (base = pre-collapsed, delta = MOR append).
        Uses ``partitionBy`` so file→bucket is structural, and the
        repartition on ``__bucket`` puts each bucket in exactly one task, so
        an unsplit write (no ``max_records_per_file``) yields one file per
        bucket. ``pre_partitioned=True`` skips the repartition — callers
        that already shuffled on the bucket expression (the MOR
        single-shuffle paths) write straight through.

        The directory name carries a per-attempt nonce so two writers
        racing on the same version can never clobber each other's files —
        the losing committer leaves an orphan directory that no manifest
        references (age-based orphan cleanup reclaims it)."""
        rel_dir = os.path.join(DATA_DIR, f"v{version:08d}-{uuid.uuid4().hex[:8]}")
        out_dir = os.path.join(self.path, rel_dir)
        if not pre_partitioned:
            df = df.repartition(buckets_hint or self.num_buckets, "__bucket")
        if sort_cols:
            # cluster rows by key within each written file so parquet
            # row-group min/max statistics become selective — a point
            # lookup (read_conversation) then skips most row groups of
            # the pruned bucket's files. Used by compact()/rebucket():
            # hot-path delta writes stay sort-free (sorting there would
            # tax ingest throughput for transient files).
            df = df.sortWithinPartitions("__bucket", *sort_cols)
        writer = df.write.mode("overwrite").partitionBy("__bucket")
        if max_records_per_file:
            # split big buckets into several key-contiguous files (rows are
            # already sorted within the task when sort_cols is set), so the
            # harvested per-file key ranges become disjoint and a point
            # lookup reads ~1 file however large the bucket grows
            writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
        writer.parquet(out_dir)
        entries: list[dict[str, Any]] = []
        for bdir in sorted(os.listdir(out_dir)):
            if not bdir.startswith("__bucket="):
                continue
            bucket = int(bdir.split("=", 1)[1])
            for fn in sorted(os.listdir(os.path.join(out_dir, bdir))):
                if fn.endswith(".parquet"):
                    entries.append(
                        {
                            "path": os.path.join(rel_dir, bdir, fn),
                            "bucket": bucket,
                            "kind": kind,
                        }
                    )
        if sort_cols:
            # key-sorted writes (compaction/rebucket) get per-file key
            # bounds in the manifest; hot-path delta writes skip the
            # harvest along with the sort
            _harvest_key_ranges(self.path, entries, sort_cols[0])
        return entries

    # ----------------------------------------------------------- compaction
    def buckets_needing_compaction(
        self, max_files: int = COMPACT_MAX_FILES
    ) -> set[int]:
        """Buckets whose *delta* file count exceeds ``max_files`` — the MOR
        read-amplification guard. Each MOR batch adds one delta file per
        bucket it touches, so this counts the batches whose deltas must be
        re-collapsed on read. Base files don't count: a compaction may
        split a big bucket into several key-contiguous base files."""
        counts: dict[int, int] = {}
        for f in self.current().files:
            if f.get("kind", "base") == "delta":
                counts[f["bucket"]] = counts.get(f["bucket"], 0) + 1
        return {b for b, n in counts.items() if n > max_files}

    def bucket_for_key(self, spark: SparkSession, key_value: str) -> int:
        """The key's hash bucket, computed with the exact engine expression
        (1-row local job — constant-folded, no scan)."""
        return (
            spark.range(1)
            .select(
                F.pmod(F.xxhash64(F.lit(key_value)), F.lit(self.num_buckets))
                .cast("int")
                .alias("b")
            )
            .collect()[0]["b"]
        )

    def candidate_files_for_key(
        self, spark: SparkSession, key_value: str, snap: Snapshot | None = None
    ) -> tuple[int, list[dict[str, Any]]]:
        """Point-lookup planning: the key's hash bucket, then file-level
        key-range pruning inside it (files with harvested
        ``min_key``/``max_key`` bounds that exclude ``key_value`` are
        skipped; unranged files — all hot-path deltas — are always kept).
        Driver-side arithmetic over the manifest — the file-skipping half
        of what Iceberg does with manifest column bounds."""
        snap = snap or self.current()
        bucket = self.bucket_for_key(spark, key_value)
        cand = [
            f
            for f in snap.files
            if f["bucket"] == bucket
            and (
                "min_key" not in f
                or f["min_key"] <= key_value <= f["max_key"]
            )
        ]
        return bucket, cand

    def compact(
        self,
        spark: SparkSession,
        buckets: set[int] | None = None,
        target_file_rows: int | None = None,
    ) -> int:
        """Fold delta files back into one base file per bucket (latest-wins
        collapse with tombstones retained — a stale replayed event must
        still lose to a newer delete). Data-only commit: the applied-offset
        map is untouched, so compaction is safe at any point and crash
        during compaction simply leaves the previous snapshot current.
        With ``target_file_rows`` a bucket whose one base file holds more
        rows than the target is split too: an earlier compaction (e.g. the
        ingester's inline one) may have written it without a target."""
        import pyarrow.parquet as pq

        snap = self.current()
        if buckets is None:
            buckets = {f["bucket"] for f in snap.files}
        buckets = {
            b
            for b in buckets
            if sum(1 for f in snap.files if f["bucket"] == b) > 1
            or any(
                f.get("kind", "base") == "delta"
                or target_file_rows is not None
                and pq.read_metadata(os.path.join(self.path, f["path"])).num_rows
                > target_file_rows
                for f in snap.files
                if f["bucket"] == b
            )
        }
        if not buckets:
            return 0
        df = self.read_buckets(spark, buckets, snap)
        compacted = collapse_stored(df, self.key_cols).withColumn(
            "__bucket", self.bucket_expr(self.key_cols[0])
        )
        version = snap.version + 1
        new_files = self.write_data_files(
            compacted, version, buckets_hint=max(len(buckets), 1), kind="base",
            sort_cols=self.key_cols, max_records_per_file=target_file_rows,
        )
        carried = [f for f in snap.files if f["bucket"] not in buckets]
        self.commit(
            new_files=new_files,
            carried_files=carried,
            schema=snap.schema(),
            applied_update={},
            summary_update={"last_compaction_version": version},
            parent=snap,
            commit_type="maintenance",
        )
        return len(buckets)

    def commit(
        self,
        new_files: list[dict[str, Any]],
        carried_files: list[dict[str, Any]],
        schema: T.StructType,
        applied_update: dict[str, list[int]],
        summary_update: dict[str, Any] | None = None,
        lineage_rel_path: str | None = None,
        parent: Snapshot | None = None,
        commit_type: str = "data",
        pending_txn: str | None = None,
        applied_replace: dict[str, list[int]] | None = None,
        summary_replace: dict[str, Any] | None = None,
    ) -> Snapshot:
        """``pending_txn`` stages the snapshot for a multi-table
        transaction (lake/txn.py): the manifest is written exclusively but
        the pointer does NOT move — visibility comes when the transaction
        record commits and recover()/the coordinator rolls the pointer.
        ``applied_replace`` swaps the applied-batch ledger wholesale
        (ledger truncation) instead of merging ``applied_update``."""
        base = parent if parent is not None else self.current()
        applied = (
            dict(applied_replace)
            if applied_replace is not None
            else dict(base.applied)
        )
        applied.update(applied_update)
        summary = (
            dict(summary_replace)
            if summary_replace is not None
            else dict(base.summary)
        )
        summary.update(summary_update or {})
        lineage_files = list(base.lineage_files)
        if lineage_rel_path:
            lineage_files.append(lineage_rel_path)
        version = base.version + 1
        # stamp each new file with its committing version so incremental
        # readers can attribute files to commits (Iceberg's snapshot_id on
        # manifest entries)
        new_files = [{**f, "added_v": version} for f in new_files]
        snap = Snapshot(
            version=version,
            parent=base.version,
            schema_json=schema.jsonValue(),
            files=carried_files + new_files,
            applied=applied,
            summary=summary,
            lineage_files=lineage_files,
            commit_type=commit_type,
            pending_txn=pending_txn,
        )
        update_pointer = pending_txn is None
        try:
            self._write_snapshot(snap, exclusive=True, update_pointer=update_pointer)
        except CommitConflictError:
            if self._valid_orphan_snapshot(version) is not None:
                # a durable vN exists (concurrent winner, or a crashed
                # writer that never moved the pointer) — adopt it so the
                # caller's re-plan sees the real current snapshot instead
                # of conflicting forever
                self.recover()
                raise
            # partial manifest from a writer that died mid-write: reclaim
            # it once it is old enough that no live writer can own it
            import time

            p = os.path.join(self.path, SNAP_DIR, f"v{version:08d}.json")
            try:
                stale = (
                    time.time() - os.path.getmtime(p)
                    >= self.stale_manifest_seconds
                )
            except OSError:
                stale = False
            if not stale:
                raise
            os.remove(p)
            self._write_snapshot(snap, exclusive=True, update_pointer=update_pointer)
        return snap

    def applied_floor(self) -> int:
        """The committed low watermark of the batch stream: every
        ``batch_id <= floor`` is known-applied even if its ledger entry
        was truncated (Kafka committed-offset semantics)."""
        return int(self.current().summary.get("applied_floor", -1))

    def truncate_applied(self, keep_last: int = 64) -> int:
        """Bound the applied-batch ledger so the manifest stays
        O(keep_last) no matter how many batches have ever been ingested
        (the soak shows ~300 B/batch growth otherwise — harmless at 10³
        batches, not at 10⁵+). Entries contiguous with the current floor
        are folded INTO the floor; the last ``keep_last`` entries are
        always kept verbatim (so recent replays still short-circuit on
        their exact lsn range). Assumes the standard CDC contract of a
        monotone batch-id stream: a batch numbered at-or-below the floor
        is by definition consumed. Maintenance commit; returns entries
        dropped."""
        snap = self.current()
        ids = sorted(int(k) for k in snap.applied)
        if len(ids) <= keep_last:
            return 0
        prev_floor = int(snap.summary.get("applied_floor", -1))
        idset = set(ids)
        c = prev_floor
        while c + 1 in idset:
            c += 1
        floor = min(c, ids[-keep_last] - 1) if keep_last > 0 else c
        if floor <= prev_floor:
            return 0
        new_applied = {
            k: v for k, v in snap.applied.items() if int(k) > floor
        }
        self.commit(
            new_files=[],
            carried_files=list(snap.files),
            schema=snap.schema(),
            applied_update={},
            applied_replace=new_applied,
            summary_update={"applied_floor": floor},
            parent=snap,
            commit_type="maintenance",
        )
        return len(snap.applied) - len(new_applied)

    # -------------------------------------------------------------- cleanup
    def cleanup_orphans(self, min_age_seconds: float = 3600) -> int:
        """Delete data/lineage files referenced by NO snapshot in the
        retained history (e.g. left by a writer that lost the commit race
        or crashed mid-write), provided they are older than
        ``min_age_seconds`` — the age guard keeps in-flight writers' files
        safe, exactly like Iceberg's orphan-file removal."""
        import time

        live: set[str] = set()
        pinned: list[Snapshot] = []
        for v in sorted(set(self.tags().values())):
            try:
                pinned.append(self.snapshot(v))
            except (OSError, ValueError):
                continue
        for s in self.history() + pinned:
            live |= {f["path"] for f in s.files}
            live |= set(s.lineage_files)
        def referenced(rel: str) -> bool:
            # lineage manifests reference directories; data manifests
            # reference files — check both granularities
            return any(p == rel or rel.startswith(p + os.sep) for p in live)

        # version dirs (data/vNNN-nonce, lineage/vNNN-nonce) that hold any
        # referenced content: writer bookkeeping files (_SUCCESS, .crc —
        # never listed in manifests) inside them are NOT orphans
        live_vdirs = {os.sep.join(p.split(os.sep)[:2]) for p in live}

        now = time.time()
        removed = 0
        for sub in (DATA_DIR, LINEAGE_DIR):
            root = os.path.join(self.path, sub)
            if not os.path.isdir(root):
                continue
            for dirpath, _, filenames in os.walk(root):
                for fn in filenames:
                    full = os.path.join(dirpath, fn)
                    rel = os.path.relpath(full, self.path)
                    if referenced(rel):
                        continue
                    vdir = os.sep.join(rel.split(os.sep)[:2])
                    if not fn.endswith(".parquet") and vdir in live_vdirs:
                        continue
                    try:
                        if now - os.path.getmtime(full) >= min_age_seconds:
                            os.remove(full)
                            removed += 1
                    except OSError:
                        pass
        # prune now-empty dirs
        for sub in (DATA_DIR, LINEAGE_DIR):
            root = os.path.join(self.path, sub)
            for dirpath, dirnames, filenames in list(os.walk(root, topdown=False)):
                if dirpath != root and not dirnames and not filenames:
                    try:
                        os.rmdir(dirpath)
                    except OSError:
                        pass
        return removed

    def rebucket(self, spark: SparkSession, new_num_buckets: int) -> None:
        """Change the table's bucket count (a growing table needs more
        buckets for write parallelism and point-lookup pruning). One
        full collapse+rewrite committed as a data-only snapshot — the
        applied-offset map is untouched, so ingest semantics are
        unaffected; readers before/after the commit see consistent state
        (snapshot isolation)."""
        snap = self.current()
        df = self.read_buckets(spark, {f["bucket"] for f in snap.files}, snap)
        collapsed = collapse_stored(df, self.key_cols) if any(
            f.get("kind", "base") == "delta" for f in snap.files
        ) else df
        old_n = self.num_buckets
        self.num_buckets = new_num_buckets
        try:
            out = collapsed.withColumn(
                "__bucket", self.bucket_expr(self.key_cols[0])
            )
            version = snap.version + 1
            new_files = self.write_data_files(
                out, version, buckets_hint=new_num_buckets, kind="base",
                sort_cols=self.key_cols,
            )
            self.commit(
                new_files=new_files,
                carried_files=[],
                schema=snap.schema(),
                applied_update={},
                summary_update={"num_buckets": new_num_buckets},
                parent=snap,
                commit_type="maintenance",
            )
        except BaseException:
            self.num_buckets = old_n
            raise

    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Delete snapshot manifests (and data files referenced by no kept
        snapshot) older than the last ``keep_last`` in the commit chain —
        the reference keeps 2 checkpoints (``scripts/train_llm.py:265``)."""
        chain = self.history()
        if len(chain) <= keep_last:
            return 0
        kept = chain[-keep_last:]
        # tagged snapshots are pinned: their manifests and files survive
        # expiry until the tag is dropped (Iceberg ref-retention
        # semantics). Resolve tags by manifest, not via the chain — a
        # prior expiry's re-parenting may have detached them from
        # history() while they remain directly readable.
        tagged = set(self.tags().values())
        pinned = []
        for v in sorted(tagged):
            try:
                pinned.append(self.snapshot(v))
            except (OSError, ValueError):
                continue
        dropped = [s for s in chain[:-keep_last] if s.version not in tagged]
        live = {f["path"] for s in kept + pinned for f in s.files}
        live |= {p for s in kept + pinned for p in s.lineage_files}
        removed = 0
        for s in dropped:
            for f in s.files:
                if f["path"] not in live:
                    fp = os.path.join(self.path, f["path"])
                    if os.path.exists(fp):
                        os.remove(fp)
                        removed += 1
        # re-parent the oldest kept snapshot so history() stops there
        # (must NOT move the version pointer — current stays current)
        oldest = kept[0]
        oldest.parent = None
        self._write_snapshot(oldest, update_pointer=False)
        for s in dropped:
            sp = os.path.join(self.path, SNAP_DIR, f"v{s.version:08d}.json")
            if os.path.exists(sp):
                os.remove(sp)
        # prune empty data dirs
        ddir = os.path.join(self.path, DATA_DIR)
        for sub in os.listdir(ddir):
            full = os.path.join(ddir, sub)
            if os.path.isdir(full) and not any(
                fn.endswith(".parquet")
                for _, _, fns in os.walk(full)
                for fn in fns
            ):
                shutil.rmtree(full)
        return removed


LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("min_lsn", T.LongType(), True),
        T.StructField("max_lsn", T.LongType(), True),
        T.StructField("row_count", T.LongType(), False),
        T.StructField("snapshot_version", T.LongType(), False),
    ]
)
