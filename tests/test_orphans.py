"""Orphan-file GC (LakeTable.remove_orphans — Iceberg
remove_orphan_files analog).

Every write path produces parquet output first and commits the
snapshot second; a crash in that window strands the output directory:
no snapshot references it, so reads never see it AND expire_snapshots
retention math never reclaims it. remove_orphans sweeps exactly that
residue — age-gated so an in-flight write's young files survive —
while keeping every snapshot readable (unlike expire, which trades
time-travel depth for space).
"""

from __future__ import annotations

import os
import shutil
import time

from clinical_trials_etl_spark.lake.table import LakeTable

FIELDS = [
    {"id": 1, "name": "url", "type": "string"},
    {"id": 2, "name": "val", "type": "string"},
]


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "url string, val string, lsn long, op string")


def _plant_residue(table, age_s: float) -> str:
    """Simulate a crash between write and commit: a full bucket-dir
    output tree (copied real parquet + _SUCCESS) that no snapshot
    references, backdated ``age_s`` seconds."""
    committed = table.files()[0]["path"]
    stray_dir = os.path.join(table.data_dir, "merge-crashed", "_bucket=0")
    os.makedirs(stray_dir)
    stray = os.path.join(stray_dir, "part-00000-crashed.parquet")
    shutil.copy(committed, stray)
    marker = os.path.join(table.data_dir, "merge-crashed", "_SUCCESS")
    open(marker, "w").close()
    old = time.time() - age_s
    for p in (stray, marker):
        os.utime(p, (old, old))
    return stray


def test_remove_orphans_sweeps_residue_keeps_every_snapshot(
        spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=2)
    t.merge(_batch(spark, [("u1", "a", 1, "I"), ("u2", "b", 2, "I")]),
            batch_id="b-1")
    t.merge(_batch(spark, [("u1", "a2", 9, "U")]), batch_id="b-2")
    per_version = {v: t.read(version=v).count()
                   for v in range(t.current_version() + 1)}

    stray = _plant_residue(t, age_s=7200)

    # young relative to the default window: the age guard keeps it
    stats = t.remove_orphans()  # 86400 s
    assert stats["removed_files"] == 0 and os.path.exists(stray)

    # old relative to a 1h window: swept, directory pruned
    stats = t.remove_orphans(older_than_s=3600)
    assert stats["removed_files"] == 1
    assert not os.path.exists(os.path.dirname(os.path.dirname(stray)))

    # every snapshot still reads exactly what it read before
    for v, n in per_version.items():
        assert t.read(version=v).count() == n
    # and committed output keeps its _SUCCESS markers
    markers = [os.path.join(dp, f)
               for dp, _d, fs in os.walk(t.data_dir)
               for f in fs if f == "_SUCCESS"]
    assert markers, "committed write markers must survive the sweep"


def test_remove_orphans_is_a_noop_on_a_clean_table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=2)
    t.merge(_batch(spark, [("u1", "a", 1, "I")]), batch_id="b-1")
    t.compact(sort_by="val")  # rewrites every bucket -> v2
    v_pre = 1  # pre-compaction snapshot still references old files
    pre_files = {e["path"] for e in t.files(t.snapshot(v_pre))}
    stats = t.remove_orphans(older_than_s=0)
    # compaction's superseded files ARE still referenced by the older
    # snapshot — orphan GC must not act as a surprise expire
    assert stats["removed_files"] == 0
    assert all(os.path.exists(p) for p in pre_files)
    assert t.read(version=v_pre).count() == 1
    assert t.read().count() == 1


def test_stream_gc_orphans_on_cadence(spark, tmp_path):
    """Orphan GC rides the streaming maintenance cadence: residue of a
    crashed earlier run is reclaimed mid-stream, fresh files survive
    (age gate), final state is exact."""
    from clinical_trials_etl_spark.cdc.replay import create_pages_table
    from clinical_trials_etl_spark.cdc.stream import run_stream
    from clinical_trials_etl_spark.datagen.changelog import (
        LogSpec,
        write_changelog_segments,
    )

    log = str(tmp_path / "log")
    write_changelog_segments(
        spark, LogSpec(n_events=600, n_hosts=8, seed=31), log,
        n_segments=2)
    t = create_pages_table(spark, str(tmp_path / "t"), n_buckets=4)
    # crash residue from "an earlier run": any stranded parquet under
    # the data dir (content is irrelevant — only that no snapshot
    # references it), backdated past the age gate
    stray_dir = os.path.join(t.data_dir, "merge-crashed", "_bucket=0")
    os.makedirs(stray_dir)
    stray = os.path.join(stray_dir, "part-00000-crashed.parquet")
    seg_file = next(
        os.path.join(dp, f) for dp, _d, fs in os.walk(log)
        for f in fs if f.endswith(".parquet"))
    shutil.copy(seg_file, stray)
    old = time.time() - 7200
    os.utime(stray, (old, old))

    run_stream(spark, log, t, str(tmp_path / "ckpt"),
               max_files_per_trigger=2,
               maintenance=[(1, lambda tb: tb.remove_orphans(
                   older_than_s=3600))])
    assert not os.path.exists(stray)
    assert t.read().count() > 0
