"""Merge-on-read apply path: same semantics as COW, O(batch) writes.

Every guarantee proven for COW in test_cdc_end_to_end must hold verbatim
for mode='mor', including mid-run compaction and crash-resume.
"""

import os

import pytest
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.cdc.generator import (
    gen_change_log,
    write_batch_files,
)
from runyoro_llm_data_pipeline_spark.cdc.ingest import CdcIngest


def _rows(df):
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    return [
        tuple(r) for r in df.select(*cols).orderBy("conv_id", "turn_idx").collect()
    ]


@pytest.fixture(scope="module")
def log(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("morlog"))
    events, expected = gen_change_log(
        spark, n_turns=800, n_convs=30, n_batches=6, tool_from_batch=2
    )
    write_batch_files(events, d, tool_from_batch=2)
    return d, _rows(expected)


def test_mor_replay_matches_expected_and_cow(spark, log, tmp_lake):
    batch_dir, expected = log
    mor = CdcIngest(
        os.path.join(tmp_lake, "mor"), batch_dir, num_buckets=8, mode="mor",
        compact_max_files=None,
    )
    mor.run(spark)
    t = mor.table()
    # deltas really accumulated (no rewrite happened)
    kinds = {f.get("kind", "base") for f in t.current().files}
    assert kinds == {"delta"}
    assert _rows(t.read(spark)) == expected

    cow = CdcIngest(os.path.join(tmp_lake, "cow"), batch_dir, num_buckets=8, mode="cow")
    cow.run(spark)
    assert _rows(cow.table().read(spark)) == expected


def test_mor_auto_compaction_preserves_state(spark, log, tmp_lake):
    batch_dir, expected = log
    ing = CdcIngest(
        os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8, mode="mor",
        compact_max_files=2,
    )
    ing.run(spark)
    t = ing.table()
    # compaction kept per-bucket file counts bounded
    assert not t.buckets_needing_compaction(2)
    assert _rows(t.read(spark)) == expected
    # a full manual compaction leaves exactly one base file per live bucket
    t.compact(spark)
    files = t.current().files
    assert all(f.get("kind") == "base" for f in files)
    per_bucket = {}
    for f in files:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert all(n == 1 for n in per_bucket.values())
    assert _rows(t.read(spark)) == expected


def _new_files_by_bucket(t):
    """For each batch commit, how many files it added to each bucket."""
    out, prev = [], set()
    for snap in t.history():
        paths = {f["path"] for f in snap.files}
        if snap.commit_type == "data" and snap.parent is not None:
            per_bucket = {}
            for f in snap.files:
                if f["path"] not in prev:
                    per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
            out.append(per_bucket)
        prev = paths
    return out


def test_mor_commit_adds_one_delta_file_per_bucket(spark, log, tmp_lake):
    batch_dir, expected = log
    ing = CdcIngest(
        os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8, mode="mor",
        compact_max_files=None,
    )
    ing.run(spark)
    t = ing.table()
    added = _new_files_by_bucket(t)
    assert len(added) == 6
    # every batch touches several buckets, and writes one file to each
    assert all(len(per_bucket) > 1 for per_bucket in added)
    assert all(n == 1 for per_bucket in added for n in per_bucket.values())
    assert _rows(t.read(spark)) == expected


def test_default_compaction_runs_every_second_batch(spark, log, tmp_lake):
    batch_dir, _ = log
    ing = CdcIngest(os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8)
    t = ing.table()

    def maintenance_commits():
        return sum(s.commit_type == "maintenance" for s in t.history())

    ing.run(spark, max_batches=1)
    assert maintenance_commits() == 0
    ing.run(spark, max_batches=1)
    assert maintenance_commits() == 1
    assert not t.buckets_needing_compaction()


def test_run_restores_split_size_settings(spark, log, tmp_lake):
    """The per-batch split tuning must not leak into the session: a value
    set before run() comes back, and an unset one is unset again."""
    batch_dir, _ = log
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set(keys[0], str(64 * 1024 * 1024))
        spark.conf.unset(keys[1])
        before = {k: spark.conf.get(k, None) for k in keys}
        ing = CdcIngest(
            os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8, mode="mor"
        )
        assert len(ing.run(spark, max_batches=2)) == 2
        assert {k: spark.conf.get(k, None) for k in keys} == before
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_mor_resume_and_idempotency(spark, log, tmp_lake):
    batch_dir, expected = log
    ing = CdcIngest(
        os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8, mode="mor",
        compact_max_files=3,
    )
    first = ing.run(spark, max_batches=3)
    assert len(first) == 3
    ing2 = CdcIngest(
        os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8, mode="mor",
        compact_max_files=3,
    )
    rest = ing2.run(spark)
    assert len(rest) == 3
    assert ing2.run(spark) == []
    assert _rows(ing2.table().read(spark)) == expected


def test_arrow_collapse_equals_window_oracle(spark):
    """The single-shuffle mapInPandas dedup must agree with the window
    formulation on winners (lineage cols differ by design: arrow reports
    the winner's version, window reports per-key maxima — equal whenever
    version order is consistent, as in the generated log)."""
    from runyoro_llm_data_pipeline_spark.cdc.dedup import (
        collapse_latest_wins_arrow,
        collapse_latest_wins_window,
    )

    events, _ = gen_change_log(spark, n_turns=500, n_convs=20, n_batches=3)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "__op"]
    a = collapse_latest_wins_arrow(events).select(*cols)
    w = collapse_latest_wins_window(events).select(*cols)
    assert a.exceptAll(w).count() == 0 and w.exceptAll(a).count() == 0


def test_mor_arrow_impl_end_to_end(spark, log, tmp_lake):
    batch_dir, expected = log
    ing = CdcIngest(
        os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8, mode="mor",
        compact_max_files=3, collapse_impl="arrow",
    )
    ing.run(spark)
    assert _rows(ing.table().read(spark)) == expected


def test_bucketed_collapse_equals_default(spark):
    """The single-shuffle write-aligned JVM collapse must agree with the
    default map-side-combined aggregate on every output column."""
    from runyoro_llm_data_pipeline_spark.cdc.dedup import (
        collapse_latest_wins,
        collapse_latest_wins_bucketed,
    )

    events, _ = gen_change_log(spark, n_turns=500, n_convs=20, n_batches=3)
    a = collapse_latest_wins(events)
    b = collapse_latest_wins_bucketed(events, num_buckets=8).drop("__bucket").select(
        *a.columns
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_mor_bucket_impl_end_to_end(spark, log, tmp_lake):
    batch_dir, expected = log
    ing = CdcIngest(
        os.path.join(tmp_lake, "t"), batch_dir, num_buckets=8, mode="mor",
        compact_max_files=3, collapse_impl="bucket",
    )
    ing.run(spark)
    assert _rows(ing.table().read(spark)) == expected


def test_mor_tombstone_survives_compaction(spark, tmp_lake):
    """A delete compacted into the base must still beat a stale event
    replayed afterwards (commutativity across compaction)."""
    import datetime

    from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
    from runyoro_llm_data_pipeline_spark.cdc.events import EVENT_SCHEMA

    def df(rows):
        return spark.createDataFrame(rows, EVENT_SCHEMA)

    ts = datetime.datetime(2024, 1, 1)
    t2 = datetime.datetime(2024, 1, 2)
    ing = CdcIngest(os.path.join(tmp_lake, "t"), "/nonexistent", num_buckets=4)
    t = ing.table()
    apply_batch(
        spark, t,
        df([("insert", "c1", 0, "user", "v1", None, ts, ts, 1, 0)]), 0, mode="mor",
    )
    apply_batch(
        spark, t,
        df([("delete", "c1", 0, None, None, None, None, t2, 5, 1)]), 1, mode="mor",
    )
    t.compact(spark)
    assert t.read(spark).count() == 0
    # stale event (older version) arrives in a later batch → must stay dead
    apply_batch(
        spark, t,
        df([("upsert", "c1", 0, "user", "stale", None, ts, ts, 2, 2)]), 2, mode="mor",
    )
    assert t.read(spark).count() == 0
    # genuinely newer re-insert resurrects
    t3 = datetime.datetime(2024, 1, 3)
    apply_batch(
        spark, t,
        df([("insert", "c1", 0, "user", "new", None, t3, t3, 9, 3)]), 3, mode="mor",
    )
    out = t.read(spark).collect()
    assert len(out) == 1 and out[0]["text"] == "new"


def test_mor_schema_evolution(spark, tmp_lake):
    from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch

    events, _ = gen_change_log(spark, n_turns=100, n_convs=10, n_batches=2)
    b0 = events.filter(F.col("batch_id") == 0)
    b1 = events.filter(F.col("batch_id") == 1).withColumn(
        "meta", F.concat(F.lit("m_"), F.col("lsn").cast("string"))
    )
    ing = CdcIngest(os.path.join(tmp_lake, "t"), "/nonexistent", num_buckets=4)
    t = ing.table()
    apply_batch(spark, t, b0, 0, mode="mor")
    apply_batch(spark, t, b1, 1, mode="mor")
    final = t.read(spark)
    assert "meta" in final.columns
    assert final.filter(F.col("meta").isNotNull()).count() > 0
    t.compact(spark)
    final2 = t.read(spark)
    assert _rows_eq(final, final2)


def _rows_eq(a, b):
    ca = sorted(a.columns)

    def key(t):
        return tuple((v is None, v) for v in t)

    ra = sorted(map(tuple, a.select(*ca).collect()), key=key)
    rb = sorted(map(tuple, b.select(*ca).collect()), key=key)
    return ra == rb


def test_late_event_accounting(spark, tmp_lake):
    """Replayed/out-of-order events at or below the committed watermark are
    surfaced in the apply result (and remain harmless)."""
    import datetime

    from runyoro_llm_data_pipeline_spark.cdc.apply import apply_batch
    from runyoro_llm_data_pipeline_spark.cdc.events import EVENT_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    ing = CdcIngest(os.path.join(tmp_lake, "t"), "/nonexistent", num_buckets=4)
    t = ing.table()
    r1 = apply_batch(
        spark, t,
        spark.createDataFrame(
            [("insert", "c1", 0, "user", "v1", None, ts, ts, 100, 0)], EVENT_SCHEMA
        ),
        0, mode="mor",
    )
    assert r1["late_events"] == 0
    ts2 = datetime.datetime(2024, 1, 2)
    r2 = apply_batch(
        spark, t,
        spark.createDataFrame(
            [
                ("upsert", "c1", 0, "user", "stale-dup", None, ts, ts, 100, 1),
                ("insert", "c1", 1, "user", "fresh", None, ts2, ts2, 200, 1),
            ],
            EVENT_SCHEMA,
        ),
        1, mode="mor",
    )
    assert r2["late_events"] == 1
    # the stale duplicate did not clobber anything
    rows = {r["turn_idx"]: r["text"] for r in t.read(spark).collect()}
    assert rows == {0: "v1", 1: "fresh"}
