"""Checkpoint/lineage: resume skips unchanged days, results stay exact."""

from __future__ import annotations

import os
import shutil
import threading

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from aroma_spark.operators.normalize import dedup_exact
from aroma_spark.operators.signals import with_signals
from aroma_spark.operators.tiers import TIER_SPECS, rollup_tier
from aroma_spark.plans import checkpoint, pipeline
from aroma_spark.plans.checkpoint import incremental_rollup, load_manifest
from aroma_spark.plans.pipeline import run_pipeline


def _sig(tiny):
    return with_signals(dedup_exact(tiny))


def _manifest_files(root: str) -> set[str]:
    return {n for n in os.listdir(f"{root}/_manifest") if not n.endswith(".crc")}


def test_incremental_rollup_writes_all_tiers(spark, tiny_transcripts, tmp_path):
    root = str(tmp_path / "wh")
    m = incremental_rollup(spark, _sig(tiny_transcripts), root)
    assert set(m) == {"1m", "1h", "1d"}
    assert _manifest_files(root) == {"lattice.json"}
    for tier, stats in m.items():
        assert stats["row_count"] > 0
        assert stats["changed_partitions"] == stats["total_partitions"] == 3
    # written 1m tier equals the in-memory rollup
    disk = spark.read.parquet(f"{root}/tier=1m").drop("day")
    mem = rollup_tier(_sig(tiny_transcripts), "minute")
    assert disk.exceptAll(mem).count() == 0 and mem.exceptAll(disk).count() == 0


def test_resume_skips_unchanged(spark, tiny_transcripts, tmp_path):
    root = str(tmp_path / "wh")
    incremental_rollup(spark, _sig(tiny_transcripts), root)
    m2 = incremental_rollup(spark, _sig(tiny_transcripts), root)
    for stats in m2.values():
        assert stats["changed_partitions"] == 0


def test_append_day_recomputes_only_that_day(spark, tiny_transcripts, tmp_path):
    root = str(tmp_path / "wh")
    incremental_rollup(spark, _sig(tiny_transcripts), root)
    extra = spark.createDataFrame(
        [("z", 0, "user", "new day", None, "2024-02-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    m = incremental_rollup(
        spark, _sig(tiny_transcripts.unionByName(extra)), root
    )
    for stats in m.values():
        assert stats["changed_partitions"] == 1
        assert stats["total_partitions"] == 4
    manifest = load_manifest(spark, root, "lattice")
    assert any(k.startswith("2024-02-01|") for k in manifest)


def test_deleted_day_removes_tier_partition_and_manifest(
    spark, tiny_transcripts, tmp_path
):
    """A day deleted from the source is detected as stale: its tier
    partitions are deleted and its manifest entry dropped. Result equals
    a fresh rollup of the truncated source."""
    root = str(tmp_path / "wh")
    incremental_rollup(spark, _sig(tiny_transcripts), root)
    days = sorted(
        r[0]
        for r in tiny_transcripts.select(
            F.to_date("ts").cast("string")
        ).distinct().collect()
    )
    drop_day = days[0]
    truncated = tiny_transcripts.where(F.to_date("ts").cast("string") != drop_day)
    m = incremental_rollup(spark, _sig(truncated), root)
    assert m["1m"]["stale_partitions"] == 1
    assert not os.path.exists(f"{root}/tier=1m/day={drop_day}")
    assert not any(
        k.startswith(f"{drop_day}|") for k in load_manifest(spark, root, "lattice")
    )
    # tier content equals a from-scratch rollup of the truncated source
    disk = spark.read.parquet(f"{root}/tier=1m").drop("day")
    mem = rollup_tier(_sig(truncated), "minute")
    assert disk.exceptAll(mem).count() == 0 and mem.exceptAll(disk).count() == 0


def test_backfill_rewrites_only_changed_days(spark, tiny_transcripts, tmp_path):
    """Editing one conversation in day 1 rewrites day 1 only: the later
    days hold no row of that conversation, so their fingerprints stay
    clean and their tier rows survive on disk (verified by value
    equality with a fresh rollup)."""
    root = str(tmp_path / "wh")
    incremental_rollup(spark, _sig(tiny_transcripts), root)
    # edit conv 'a' on the earliest day: shift one text payload
    edited = tiny_transcripts.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == "a") & (F.col("turn_idx") == 0),
            F.lit("hello world EDITED"),
        ).otherwise(F.col("text")),
    )
    m = incremental_rollup(spark, _sig(edited), root)
    # the backfill scope is one day, not every later day
    assert m["1m"]["changed_partitions"] == 1
    disk = spark.read.parquet(f"{root}/tier=1m").drop("day")
    mem = rollup_tier(_sig(edited), "minute")
    assert disk.exceptAll(mem).count() == 0 and mem.exceptAll(disk).count() == 0


def _assert_tiers_equal(spark, root: str, fresh_root: str) -> None:
    for tier in TIER_SPECS:
        got = spark.read.parquet(f"{root}/tier={tier}")
        want = spark.read.parquet(f"{fresh_root}/tier={tier}")
        assert got.exceptAll(want).count() == 0, tier
        assert want.exceptAll(got).count() == 0, tier


def _assert_rerun_rewrites_all_and_equals_clean(spark, source, root, fresh_root):
    m = incremental_rollup(spark, _sig(source), root)
    incremental_rollup(spark, _sig(source), fresh_root)
    for stats in m.values():
        assert stats["changed_partitions"] == stats["total_partitions"] == 3
    _assert_tiers_equal(spark, root, fresh_root)


def test_backfill_leaves_session_overwrite_mode(spark, tiny_transcripts, tmp_path):
    """The lattice write asks for dynamic partition overwrite on itself:
    the session keeps its own mode for every later write."""
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        root, fresh_root = str(tmp_path / "wh"), str(tmp_path / "fresh")
        incremental_rollup(spark, _sig(tiny_transcripts), root)
        edited = tiny_transcripts.withColumn(
            "text",
            F.when(
                (F.col("conv_id") == "a") & (F.col("turn_idx") == 0),
                F.lit("hello world EDITED"),
            ).otherwise(F.col("text")),
        )
        m = incremental_rollup(spark, _sig(edited), root)
        assert spark.conf.get(key) == "static"
        incremental_rollup(spark, _sig(edited), fresh_root)
    finally:
        spark.conf.set(key, old)
    assert m["1m"]["changed_partitions"] == 1
    _assert_tiers_equal(spark, root, fresh_root)


def _midnight_transcripts(spark):
    """conv m crosses midnight 01-01 -> 01-02 (its day-2 first turn's
    inter_time reaches back to 23:59); conv n alone on 01-03."""
    rows = [
        ("m", 0, "user", "q", None, "2024-01-01 23:50:00"),
        ("m", 1, "assistant", "a", None, "2024-01-01 23:59:00"),
        ("m", 2, "user", "q2", None, "2024-01-02 00:05:00"),
        ("m", 3, "assistant", "a2", None, "2024-01-02 00:20:00"),
        ("n", 0, "user", "x", None, "2024-01-03 08:00:00"),
        ("n", 1, "assistant", "y", "fn", "2024-01-03 08:01:00"),
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))


def test_backfill_lag_crossing_midnight(spark, tmp_path):
    """Moving or deleting the last turn before midnight changes the next
    day's first inter_time: that day's key is dirty on its own, so
    exactly the two days whose signal rows changed are rewritten (no
    cascade to 01-03) and every tier equals a fresh rollup."""
    base = _midnight_transcripts(spark)
    last = (F.col("conv_id") == "m") & (F.col("turn_idx") == 1)
    moved = base.withColumn(
        "ts",
        F.when(last, F.to_timestamp(F.lit("2024-01-01 23:58:00"))).otherwise(
            F.col("ts")
        ),
    )
    deleted = base.where(~last)
    for i, edited in enumerate((moved, deleted)):
        root = str(tmp_path / f"wh{i}")
        fresh_root = str(tmp_path / f"fresh{i}")
        incremental_rollup(spark, _sig(base), root)
        m = incremental_rollup(spark, _sig(edited), root)
        incremental_rollup(spark, _sig(edited), fresh_root)
        for stats in m.values():
            assert stats["changed_partitions"] == 2
            assert stats["total_partitions"] == 3
        _assert_tiers_equal(spark, root, fresh_root)


def test_run_pipeline_metrics(spark, tiny_transcripts, tmp_path):
    out = run_pipeline(spark, tiny_transcripts, str(tmp_path / "wh"))
    assert out["total_rollup_points"] > 0
    assert set(out["tiers"]) == {"1m", "1h", "1d"}
    assert out["points_per_sec"] is not None


def test_run_pipeline_nonmonotone_ts_one_blob_per_conv_day(spark, tmp_path):
    """ts out of order vs turn_idx crossing midnight: turn order visits
    day2, day1, day2 — non-contiguous (conv, day) groups. The pipeline
    must detect it (negative inter_time probe) and fall back to the
    repartition+sort encode path: exactly one blob per (conv, day),
    never duplicate rows with restarting seq_idx."""
    rows = [
        ("x", 0, "user", "late", None, "2024-01-02 00:00:05"),
        ("x", 1, "assistant", "early", None, "2024-01-01 23:59:50"),
        ("x", 2, "user", "late2", None, "2024-01-02 00:00:10"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    root = str(tmp_path / "wh")
    run_pipeline(spark, df, root)
    blobs = spark.read.parquet(f"{root}/blobs")
    per_group = blobs.groupBy("conv_id", "day").count().collect()
    assert len(per_group) == 2  # (x, 01-01) and (x, 01-02)
    assert all(r["count"] == 1 for r in per_group)
    assert blobs.agg(F.sum("n")).collect()[0][0] == 3


def test_run_pipeline_backfill(spark, tiny_transcripts, tmp_path):
    """A partial backfill through run_pipeline (the CLI path): one
    conversation's text edited on one day rewrites that day only, and
    the tiers equal a clean run over the edited input. The lattice's
    dynamic overwrite of the warehouse root, concurrent with the codec
    thread's write of ``blobs/`` under it, leaves the blobs and the
    lattice manifest in place."""
    root = str(tmp_path / "wh")
    run_pipeline(spark, tiny_transcripts, root)
    edited = tiny_transcripts.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == "b") & (F.col("turn_idx") == 1),
            F.lit("done EDITED"),
        ).otherwise(F.col("text")),
    )
    out = run_pipeline(spark, edited, root)
    for stats in out["tiers"].values():
        assert stats["changed_partitions"] == 1
    fresh_root = str(tmp_path / "fresh")
    run_pipeline(spark, edited, fresh_root)
    _assert_tiers_equal(spark, root, fresh_root)
    got = spark.read.parquet(f"{root}/blobs")
    want = spark.read.parquet(f"{fresh_root}/blobs")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert _manifest_files(root) == {"lattice.json"}


def _cached_rdds(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_materializations_released_on_every_exit(
    spark, tiny_transcripts, tmp_path, monkeypatch
):
    """A normal run and a run whose lattice write raises both leave no
    persisted frame behind (signal frame, parent tiers); the error
    propagates, and run_pipeline's codec thread has ended."""
    before = _cached_rdds(spark)
    incremental_rollup(spark, _sig(tiny_transcripts), str(tmp_path / "ok"))
    assert _cached_rdds(spark) <= before

    write = DataFrameWriter.parquet

    def failing_write(self, path, *args, **kwargs):
        if not path.endswith("blobs"):
            raise RuntimeError("injected tier write failure")
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_write)
    with pytest.raises(RuntimeError, match="injected"):
        incremental_rollup(spark, _sig(tiny_transcripts), str(tmp_path / "a"))
    assert _cached_rdds(spark) <= before
    with pytest.raises(RuntimeError, match="injected"):
        run_pipeline(spark, tiny_transcripts, str(tmp_path / "b"))
    assert _cached_rdds(spark) <= before
    assert not any(t.name.startswith("codec-branch") for t in threading.enumerate())


@pytest.mark.parametrize("fail_on_call", [1])
def test_crash_between_data_commit_and_manifest(
    spark, tiny_transcripts, tmp_path, monkeypatch, fail_on_call
):
    """The tier data is committed but the lattice manifest is not: the
    rerun on the same input finds every day dirty, rewrites it and
    equals a clean run."""
    root = str(tmp_path / "wh")
    commit = checkpoint.write_manifest
    calls = []

    def crashing_commit(*args, **kwargs):
        calls.append(args[2])
        if len(calls) == fail_on_call:
            raise RuntimeError("injected manifest commit failure")
        return commit(*args, **kwargs)

    monkeypatch.setattr(checkpoint, "write_manifest", crashing_commit)
    with pytest.raises(RuntimeError, match="injected"):
        incremental_rollup(spark, _sig(tiny_transcripts), root)
    monkeypatch.setattr(checkpoint, "write_manifest", commit)
    assert calls == ["lattice"]
    assert os.path.isdir(f"{root}/tier=1d")
    _assert_rerun_rewrites_all_and_equals_clean(
        spark, tiny_transcripts, root, str(tmp_path / "fresh")
    )


def test_one_lattice_write_per_run(spark, tiny_transcripts, tmp_path, monkeypatch):
    """All three tiers go out in one parquet write on a fresh build and
    on a one-day backfill; an unchanged rerun writes nothing."""
    root = str(tmp_path / "wh")
    write = DataFrameWriter.parquet
    paths: list[str] = []

    def spy(self, path, *args, **kwargs):
        paths.append(path)
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    edited = tiny_transcripts.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == "c") & (F.col("turn_idx") == 0),
            F.lit("init EDITED"),
        ).otherwise(F.col("text")),
    )
    runs = ((tiny_transcripts, 3, 1), (edited, 1, 1), (edited, 0, 0))
    for source, n_changed, n_writes in runs:
        paths.clear()
        m = incremental_rollup(spark, _sig(source), root)
        assert m["1m"]["changed_partitions"] == n_changed
        assert paths == [root] * n_writes
    for tier, stats in m.items():
        assert stats["row_count"] == spark.read.parquet(f"{root}/tier={tier}").count()


class _CrashOnRename:
    """A Hadoop FileSystem whose rename fails: the manifest's tmp file is
    written, the commit rename never happens."""

    def __init__(self, fs):
        self._fs = fs

    def rename(self, *args):
        raise RuntimeError("injected crash before rename")

    def __getattr__(self, name):
        return getattr(self._fs, name)


def test_crash_inside_manifest_write(spark, tiny_transcripts, tmp_path, monkeypatch):
    """The manifest's tmp file is written but the process dies before
    the rename. The stale ``lattice.json.tmp-*`` holds a complete
    manifest (every key clean); it is never read, so the rerun finds
    every day dirty, rewrites it, commits the manifest, deletes the
    stale tmp and equals a clean run."""
    root = str(tmp_path / "wh")
    fs_of = checkpoint._fs

    def crashing_fs(spark, path_str):
        fs, path = fs_of(spark, path_str)
        return _CrashOnRename(fs), path

    monkeypatch.setattr(checkpoint, "_fs", crashing_fs)
    with pytest.raises(RuntimeError, match="injected"):
        incremental_rollup(spark, _sig(tiny_transcripts), root)
    monkeypatch.setattr(checkpoint, "_fs", fs_of)
    names = os.listdir(f"{root}/_manifest")
    assert "lattice.json" not in names
    assert any(n.startswith("lattice.json.tmp-") for n in names)
    _assert_rerun_rewrites_all_and_equals_clean(
        spark, tiny_transcripts, root, str(tmp_path / "fresh")
    )
    assert _manifest_files(root) == {"lattice.json"}
    assert load_manifest(spark, root, "lattice")


def test_manifest_read_once_per_run(spark, tiny_transcripts, tmp_path, monkeypatch):
    """A run reads the lattice manifest once and commits the dict it
    loaded: no re-read before the commit."""
    root = str(tmp_path / "wh")
    incremental_rollup(spark, _sig(tiny_transcripts), root)
    read = checkpoint.fs_read_text
    paths: list[str] = []

    def spy(spark, path_str):
        paths.append(path_str)
        return read(spark, path_str)

    monkeypatch.setattr(checkpoint, "fs_read_text", spy)
    incremental_rollup(spark, _sig(tiny_transcripts), root)
    assert paths == [f"{root}/_manifest/lattice.json"]


def _days(df) -> list[str]:
    return sorted(
        r[0] for r in df.select(F.to_date("ts").cast("string")).distinct().collect()
    )


def test_tier_day_deleted_out_of_band(spark, tiny_transcripts, tmp_path):
    """A tier day deleted by hand while the manifest calls it clean is
    seen missing from the tier listing and rewritten (that day only)."""
    root = str(tmp_path / "wh")
    fresh_root = str(tmp_path / "fresh")
    incremental_rollup(spark, _sig(tiny_transcripts), root)
    shutil.rmtree(f"{root}/tier=1h/day={_days(tiny_transcripts)[1]}")
    m = incremental_rollup(spark, _sig(tiny_transcripts), root)
    incremental_rollup(spark, _sig(tiny_transcripts), fresh_root)
    for stats in m.values():
        assert stats["changed_partitions"] == 1
    _assert_tiers_equal(spark, root, fresh_root)


def test_warehouse_without_lattice_manifest(spark, tiny_transcripts, tmp_path):
    """A warehouse with tier data but no lattice manifest (one written
    with the older per-tier manifests) is rebuilt in full, and a tier
    day the source no longer has is found by the listing and deleted."""
    root = str(tmp_path / "wh")
    fresh_root = str(tmp_path / "fresh")
    incremental_rollup(spark, _sig(tiny_transcripts), root)
    shutil.rmtree(f"{root}/_manifest")
    drop_day = _days(tiny_transcripts)[0]
    truncated = tiny_transcripts.where(F.to_date("ts").cast("string") != drop_day)
    m = incremental_rollup(spark, _sig(truncated), root)
    incremental_rollup(spark, _sig(truncated), fresh_root)
    for stats in m.values():
        assert stats["changed_partitions"] == stats["total_partitions"] == 2
        assert stats["stale_partitions"] == 1
    for tier in TIER_SPECS:
        assert not os.path.exists(f"{root}/tier={tier}/day={drop_day}"), tier
    _assert_tiers_equal(spark, root, fresh_root)


def test_codec_branch_error_propagates(
    spark, tiny_transcripts, tmp_path, monkeypatch
):
    """An exception in run_pipeline's codec branch reaches the caller,
    after the branch has ended and the signal frame is released."""
    before = _cached_rdds(spark)

    def failing_encode(*args, **kwargs):
        raise RuntimeError("injected codec failure")

    monkeypatch.setattr(pipeline, "encode_series", failing_encode)
    with pytest.raises(RuntimeError, match="injected codec"):
        run_pipeline(spark, tiny_transcripts, str(tmp_path / "wh"))
    assert _cached_rdds(spark) <= before
    assert not any(t.name.startswith("codec-branch") for t in threading.enumerate())
