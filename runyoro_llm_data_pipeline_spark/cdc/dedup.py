"""Latest-wins CDC collapse per key — the engine's W3 operator.

The reference never reconciles versions (it only skips whole duplicate
sources, ``scripts/orchestrator.py:88-101``); the target's core semantic is
sequence-ordered collapse: for each ``(conv_id, turn_idx)`` the event with
the greatest ``(event_ts, lsn)`` wins, and exact duplicate deliveries
(same ``lsn``) are idempotent.

Three implementations, fastest first:

1. ``collapse_latest_wins`` — ``groupBy(key).agg(max_by(payload, order))``.
   Hash aggregation gets **map-side partial aggregation** for free, so a
   hot key with a million duplicate deliveries is collapsed inside each
   input partition before the shuffle — the shuffle carries at most
   ``num_partitions`` rows per key regardless of skew. This is the default.
2. ``collapse_latest_wins_window`` — ``row_number() over (partition by key
   order by order desc) = 1``. Semantically identical; shuffles every event
   and sorts per key, so it is kept as the cross-check oracle (it is also
   the formulation DuckDB runs in the driver's correctness gate).
3. ``collapse_latest_wins_salted`` — explicit two-phase salted variant:
   pre-aggregate on ``(key, salt)`` then re-aggregate on ``key``. With
   max_by the unsalted form already partial-aggregates, but the salted form
   documents the general skew recipe (SURVEY.md §4.1) and is exercised by
   the equivalence tests.

Payload columns are discovered from the frame (everything that is not a
key/order/op/batch column), so additively-evolved columns flow through
without code changes. All variants return one row per key with ``__op``
('delete' survives so the merge stage can drop the key) plus
``__max_event_ts``/``__max_lsn`` for lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.events import KEY_COLS

_NON_PAYLOAD = {"op", "event_ts", "lsn", "batch_id"}
def _ord():
    return F.struct(F.col("event_ts"), F.col("lsn"))


def payload_columns(df: DataFrame, keys=KEY_COLS) -> list[str]:
    return [
        c
        for c in df.columns
        if c not in _NON_PAYLOAD and c not in keys and not c.startswith("__")
    ]


def _winner_struct(payload: list[str]):
    return F.struct(*[F.col(c) for c in payload], F.col("op").alias("__op"))


def _unpack(df: DataFrame, keys, payload: list[str]) -> DataFrame:
    return df.select(
        *keys,
        *[F.col(f"__w.{c}").alias(c) for c in payload],
        F.col("__w.__op").alias("__op"),
        "__max_event_ts",
        "__max_lsn",
    )


def collapse_latest_wins(events: DataFrame, keys=KEY_COLS) -> DataFrame:
    payload = payload_columns(events, keys)
    agg = events.groupBy(*keys).agg(
        F.max_by(_winner_struct(payload), _ord()).alias("__w"),
        F.max("event_ts").alias("__max_event_ts"),
        F.max("lsn").alias("__max_lsn"),
    )
    return _unpack(agg, keys, payload)


def collapse_latest_wins_window(events: DataFrame, keys=KEY_COLS) -> DataFrame:
    payload = payload_columns(events, keys)
    w = Window.partitionBy(*keys).orderBy(
        F.col("event_ts").desc(), F.col("lsn").desc()
    )
    wmax = Window.partitionBy(*keys)
    ranked = events.select(
        *keys,
        *payload,
        F.col("op").alias("__op"),
        F.row_number().over(w).alias("__rn"),
        F.max("event_ts").over(wmax).alias("__max_event_ts"),
        F.max("lsn").over(wmax).alias("__max_lsn"),
    )
    return ranked.filter(F.col("__rn") == 1).drop("__rn")


def collapse_latest_wins_arrow(
    events: DataFrame,
    keys=KEY_COLS,
    partition_expr=None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Single-shuffle vectorized Arrow collapse — the high-throughput apply
    stage (BASELINE.json:north_star: "applied in vectorized Arrow batches
    ... no per-row Python").

    Plan: one hash repartition on ``partition_expr`` (default: the key —
    pass the table's *bucket* expression to make the output write-aligned,
    since bucket is a function of conv_id every key lands whole in one
    partition) → ``sortWithinPartitions(key, version desc)`` →
    ``mapInPandas`` keeping each key's first (= winning) row via vectorized
    shift-compare, carrying the boundary key across Arrow batches. Exactly
    one shuffle + one sort; zero per-row Python.

    Output schema/columns match :func:`collapse_latest_wins`; the lineage
    columns are the *winner's* ``(event_ts, lsn)``.
    """
    payload = payload_columns(events, keys)
    keys = list(keys)
    sel = events.select(
        *keys,
        *payload,
        F.col("op").alias("__op"),
        F.col("event_ts").alias("__max_event_ts"),
        F.col("lsn").alias("__max_lsn"),
    )
    out_schema = sel.schema
    n_part = num_partitions or events.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    part_cols = (
        [partition_expr] if partition_expr is not None else [F.col(k) for k in keys]
    )
    arranged = sel.repartition(int(n_part), *part_cols).sortWithinPartitions(
        *keys, F.col("__max_event_ts").desc(), F.col("__max_lsn").desc()
    )

    def dedup_first(batches):
        last_key = None
        for pdf in batches:
            if pdf.empty:
                continue
            kdf = pdf[keys]
            new = (kdf != kdf.shift()).any(axis=1)
            first = new.iloc[0:1].copy()
            first.iloc[0] = last_key is None or tuple(kdf.iloc[0]) != last_key
            new.iloc[0] = first.iloc[0]
            last_key = tuple(kdf.iloc[-1])
            out = pdf[new.values]
            if len(out):
                yield out

    return arranged.mapInPandas(dedup_first, schema=out_schema)


def collapse_latest_wins_bucketed(
    events: DataFrame,
    keys=KEY_COLS,
    key_col: str = "conv_id",
    num_buckets: int = 16,
    num_partitions: int | None = None,
) -> DataFrame:
    """Single-shuffle, write-aligned pure-JVM collapse.

    One hash repartition on ``__fine = pmod(xxhash64(key), P)`` where
    ``P`` is a multiple of ``num_buckets`` — so every fine cell lies
    wholly inside one bucket — followed by
    ``groupBy(__fine, __bucket, keys)``: the aggregate's required
    clustering is satisfied by the repartition's output partitioning, so
    Catalyst plans **no second exchange**, and the output is already
    bucket-aligned for the delta write (``pre_partitioned=True``, ~P/nb
    files per bucket, where the default path writes one).

    Versus the default ``collapse_latest_wins`` (map-side-combined agg +
    post-collapse bucket repartition): raw events cross the wire once
    here instead of collapsed rows twice, at the price of losing map-side
    combine (a hot key's duplicate deliveries all travel to one task).

    **Measured verdict (BENCH.md round 2, 35M events, separate executor
    JVMs)**: the default maxby plan wins at BOTH cluster sizes (186k vs
    167k ev/s at 1 executor, 598k vs 292k at 4) — partial aggregation
    shrinks the shuffle more than the second exchange costs, and the
    fine-partitioned exchange's fixed fan-out caps reduce parallel
    balance. Kept as the equivalence-tested record of the experiment and
    for inputs that are known duplicate-free (where map-side combine
    cannot help).

    Output: the same columns as :func:`collapse_latest_wins` plus
    ``__bucket``.
    """
    payload = payload_columns(events, keys)
    keys = list(keys)
    n_part = num_partitions
    if n_part is None:
        n_part = int(
            events.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    # round up to a multiple of num_buckets ≥ 2×buckets so each FINE CELL
    # lies wholly inside one bucket (the clustering property the plan
    # needs). Note: repartition(n, '__fine') hash-partitions the __fine
    # VALUE (murmur3 mod P), so one task may still hold fine cells from
    # several buckets — tasks are not one-bucket-aligned, only cells are;
    # the write fan-out is bounded at ≤ cells-per-task directories
    k = max(2, -(-n_part // num_buckets))
    n_part = k * num_buckets
    fine = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_part)).cast("int")
    bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_buckets)).cast("int")
    pre = events.withColumn("__fine", fine).withColumn("__bucket", bucket)
    agg = (
        pre.repartition(n_part, "__fine")
        .groupBy("__fine", "__bucket", *keys)
        .agg(
            F.max_by(_winner_struct(payload), _ord()).alias("__w"),
            F.max("event_ts").alias("__max_event_ts"),
            F.max("lsn").alias("__max_lsn"),
        )
    )
    return _unpack(agg, ["__bucket", *keys], payload)


def collapse_latest_wins_salted(
    events: DataFrame, keys=KEY_COLS, n_salt: int = 32
) -> DataFrame:
    """Two-phase skew-tamed collapse: salt only the *pre-dedup shuffle*,
    never the key identity (SURVEY.md §7 hard part (c))."""
    payload = payload_columns(events, keys)
    salted = events.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col("lsn")), F.lit(n_salt)).cast("int")
    )
    phase1 = salted.groupBy(*keys, "__salt").agg(
        F.max_by(_winner_struct(payload), _ord()).alias("__w1"),
        F.max(_ord()).alias("__ord"),
        F.max("event_ts").alias("__met"),
        F.max("lsn").alias("__ml"),
    )
    phase2 = phase1.groupBy(*keys).agg(
        F.max_by(F.col("__w1"), F.col("__ord")).alias("__w"),
        F.max("__met").alias("__max_event_ts"),
        F.max("__ml").alias("__max_lsn"),
    )
    return _unpack(phase2, keys, payload)
