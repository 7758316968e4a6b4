"""Bucket-pruned copy-on-write MERGE — the engine's upsert sink.

Logical semantics of Iceberg's::

    MERGE INTO t USING c ON t.conv_id = c.conv_id AND t.turn_idx = c.turn_idx
    WHEN MATCHED AND c.__op = 'delete' THEN DELETE
    WHEN MATCHED AND version(c) > version(t) THEN UPDATE SET *
    WHEN NOT MATCHED AND c.__op != 'delete' THEN INSERT *

…but implemented as **union + latest-wins re-collapse**, which is both
simpler and strictly stronger:

1. compute each change's hash bucket; **prune** — only table files whose
   bucket appears in the batch are read and rewritten; every other file is
   carried into the new snapshot untouched. A batch touching 1% of buckets
   rewrites 1% of a 100 TB table.
2. read the affected buckets' current rows *including their stored version
   columns* (``_cdc_event_ts``, ``_cdc_lsn``) and tombstones, union them
   with the collapsed batch (``unionByName(allowMissingColumns=True)`` — the
   additive-schema-evolution union, cf. the reference ledger's mixed entry
   shapes, ``scripts/orchestrator.py:184``), and take the max-version row
   per key via the same map-side-combinable ``max_by`` aggregation used for
   intra-batch dedup.
3. **deletes persist as tombstones** (``_cdc_deleted = true``) rather than
   physically dropping the key. That makes batch application *commutative*:
   a stale event arriving after a newer delete can never resurrect the row,
   so any arrival permutation of the same logical log converges to the same
   final state (FIXTURES.md §2 variant (g)), and re-applying any batch is a
   no-op (idempotent replay, generalizing the reference's duplicate-skip,
   ``scripts/orchestrator.py:88-101``). Readers filter tombstones;
   compaction can expire them once the log watermark passes.

No join at all on the hot path — one hash aggregation over (pruned target ∪
batch), partial-aggregated map-side, AQE-coalesced. Skew from hot keys is
bounded by the aggregation's partial combine.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from runyoro_llm_data_pipeline_spark.lake.table import (
    DELETED,
    INTERNAL_COLS,
    VERSION_LSN,
    VERSION_TS,
    LakeTable,
    Snapshot,
)


def internal_fields() -> list[T.StructField]:
    return [
        T.StructField(VERSION_TS, T.TimestampType(), True),
        T.StructField(VERSION_LSN, T.LongType(), True),
        T.StructField(DELETED, T.BooleanType(), True),
    ]


def with_internal_schema(public: T.StructType) -> T.StructType:
    names = {f.name for f in public.fields}
    return T.StructType(
        list(public.fields) + [f for f in internal_fields() if f.name not in names]
    )


def public_view(df: DataFrame) -> DataFrame:
    """Tombstone-filtered, internal-column-free view of stored rows."""
    return df.filter(~F.coalesce(F.col(DELETED), F.lit(False))).drop(*INTERNAL_COLS)


class SchemaConflictError(TypeError):
    """An existing column arrived with an incompatible type. The contract
    is additive evolution (add nullable columns) plus Iceberg's safe type
    promotions (int→long, float→double); anything else — narrowing,
    string↔numeric, drop/rename — needs an explicit migration."""


# Iceberg-parity safe promotions: widening inside one numeric family only.
# Rank order = promotion order; a column may move up a ladder, never down
# and never across ladders.
_INT_LADDER = (T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType())
_FLOAT_LADDER = (T.FloatType(), T.DoubleType())


def _widen(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """The wider of two types if they sit on the same promotion ladder,
    else None (= incompatible)."""
    for ladder in (_INT_LADDER, _FLOAT_LADDER):
        if a in ladder and b in ladder:
            return ladder[max(ladder.index(a), ladder.index(b))]
    return None


def evolve_schema(table_schema: T.StructType, changes: DataFrame) -> T.StructType:
    """Additive + widening evolution: any non-internal change column missing
    from the table schema is appended (nullable); an existing column that
    arrives as a safely-wider type (int→long, float→double) widens the
    TABLE schema — older files are read through the widened schema
    (Spark 4's Parquet readers up-convert INT32→bigint / FLOAT→double at
    scan, so the migration is metadata-only, as in Iceberg). A column
    arriving *narrower* than the table stores is accepted and up-cast on
    write. Internal version columns stay last. Drop/rename is out of
    scope, and any other type conflict fails loudly instead of corrupting
    the union."""
    existing = {f.name: f.dataType for f in table_schema.fields}
    data_fields = [f for f in table_schema.fields if f.name not in INTERNAL_COLS]
    for f in changes.schema.fields:
        if f.name.startswith("__"):
            continue
        if f.name in existing:
            if (
                f.name not in INTERNAL_COLS
                and f.dataType != existing[f.name]
                and not isinstance(f.dataType, T.NullType)
            ):
                wider = _widen(existing[f.name], f.dataType)
                if wider is None:
                    raise SchemaConflictError(
                        f"column '{f.name}' arrived as "
                        f"{f.dataType.simpleString()} but the table stores "
                        f"{existing[f.name].simpleString()}"
                    )
                data_fields = [
                    T.StructField(df.name, wider, True) if df.name == f.name else df
                    for df in data_fields
                ]
            continue
        data_fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(data_fields + internal_fields())


def cast_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Up-cast any column of ``df`` whose type differs from ``schema``'s
    (no-op when everything already matches — the common case). Used on
    both the incoming batch and the rewritten target so every *written*
    file carries exactly the evolved snapshot schema."""
    target = {f.name: f.dataType for f in schema.fields}
    out = df
    for f in df.schema.fields:
        want = target.get(f.name)
        if want is not None and f.dataType != want:
            out = out.withColumn(f.name, F.col(f.name).cast(want))
    return out


def _incoming_stored(changes: DataFrame, keys: list[str]) -> DataFrame:
    """Collapsed batch → stored-row shape (payload + internal version
    columns + tombstone flag)."""
    return changes.select(
        *keys,
        *[c for c in changes.columns if not c.startswith("__") and c not in keys],
        F.col("__max_event_ts").alias(VERSION_TS),
        F.col("__max_lsn").alias(VERSION_LSN),
        (F.col("__op") == "delete").alias(DELETED),
    )


def _bucket_stats(changes: DataFrame):
    return (
        changes.groupBy("__bucket")
        .agg(
            F.min("__max_lsn").alias("min_lsn"),
            F.max("__max_lsn").alias("max_lsn"),
            F.count("*").alias("row_count"),
        )
        .collect()
    )


def merge_into(
    spark: SparkSession,
    table: LakeTable,
    changes: DataFrame,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    snap: Snapshot | None = None,
) -> dict[str, Any]:
    """Plan + execute the COW merge. ``changes`` is the collapsed batch (one
    row per key, ``__op``/``__max_event_ts``/``__max_lsn`` from cdc.dedup).
    Returns new/carried file lists, evolved schema and per-bucket lineage
    stats. Does NOT commit — the caller owns the snapshot."""
    snap = snap or table.current()
    schema = evolve_schema(snap.schema(), changes)
    out_cols = [f.name for f in schema.fields]
    keys = list(key_cols)

    changes = changes.withColumn("__bucket", table.bucket_expr(key_cols[0]))
    changes.cache()
    try:
        stats_rows = _bucket_stats(changes)
        affected = {r["__bucket"] for r in stats_rows}
        carried = [f for f in snap.files if f["bucket"] not in affected]

        incoming = cast_to_schema(_incoming_stored(changes, keys), schema)
        target = cast_to_schema(table.read_buckets(spark, affected, snap), schema)
        combined = target.unionByName(incoming, allowMissingColumns=True)

        payload = [c for c in out_cols if c not in keys and c not in INTERNAL_COLS]
        ordv = F.struct(F.col(VERSION_TS), F.col(VERSION_LSN))
        winners = (
            combined.groupBy(*keys)
            .agg(
                F.max_by(
                    F.struct(*payload, *INTERNAL_COLS), ordv
                ).alias("__w")
            )
            .select(*keys, *[F.col(f"__w.{c}").alias(c) for c in payload + list(INTERNAL_COLS)])
            .select(*out_cols)
            .withColumn("__bucket", table.bucket_expr(key_cols[0]))
        )

        version = snap.version + 1
        new_files = table.write_data_files(
            winners, version, buckets_hint=max(len(affected), 1)
        )
        return {
            "new_files": new_files,
            "carried_files": carried,
            "schema": schema,
            "affected_buckets": sorted(affected),
            "bucket_stats": [r.asDict() for r in stats_rows],
            "version": version,
        }
    finally:
        changes.unpersist()
