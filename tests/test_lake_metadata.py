"""Snapshot-metadata hygiene: commits must write O(touched buckets)
metadata, not O(history) — snapshot JSON size stays bounded as commits
accumulate, untouched buckets keep their manifest entries (no file-list
rewrite), batch idempotence uses the bounded hwm/recent scheme, and
each commit's lineage rides in its own snapshot."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from clinical_trials_etl_spark.cdc.apply import apply_batch
from clinical_trials_etl_spark.cdc.replay import create_pages_table

COLS = (
    "lsn long, op string, url string, warc_ts timestamp, html binary,"
    " lang string, language string, fetch_status long, schema_ver int"
)


def _batch(spark, lsn0, urls):
    return spark.createDataFrame(
        [
            (lsn0 + i, "I", u, None, f"<p>{u}-{lsn0}</p>".encode(), "en",
             None, None, 1)
            for i, u in enumerate(urls)
        ],
        COLS,
    )


def test_snapshot_size_bounded_and_manifests_reused(spark, tmp_path):
    table = create_pages_table(spark, str(tmp_path / "t"), n_buckets=8)
    sizes = []
    for i in range(12):
        apply_batch(table, _batch(spark, i * 10, [f"https://h/{i}"]), f"e-{i}")
        sizes.append(os.path.getsize(table._snap_path(table.current_version())))
    # size is O(n_buckets), not O(commits): the last snapshot must not
    # have grown meaningfully past the point where all buckets exist
    assert sizes[-1] <= sizes[5] * 1.5

    # a merge touching one bucket must keep other buckets' file entries
    # pointing at their existing (immutable) manifests
    snap_before = table.snapshot()
    apply_batch(table, _batch(spark, 1000, ["https://h/0"]), "e-100")
    snap_after = table.snapshot()
    changed = {
        b
        for b in snap_before["manifests"]
        if snap_after["manifests"].get(b) != snap_before["manifests"][b]
    }
    assert len(changed) == 1  # only the touched bucket remapped


def test_batch_hwm_idempotence(spark, tmp_path):
    table = create_pages_table(spark, str(tmp_path / "t2"), n_buckets=4)
    apply_batch(table, _batch(spark, 0, ["https://a/1"]), "epoch-0")
    apply_batch(table, _batch(spark, 10, ["https://a/2"]), "epoch-1")
    v = table.current_version()
    # exact re-delivery of either epoch is a metadata no-op
    assert apply_batch(table, _batch(spark, 0, ["https://a/1"]), "epoch-0")["skipped"]
    assert apply_batch(table, _batch(spark, 10, ["https://a/2"]), "epoch-1")["skipped"]
    assert table.current_version() == v
    # non-numeric ids go through the recent set
    assert not table.is_applied("manual-backfill")
    apply_batch(table, _batch(spark, 20, ["https://a/3"]), "manual-backfill")
    assert table.is_applied("manual-backfill")
    # snapshot carries bounded structures only
    snap = table.snapshot()
    assert "applied_batches" not in snap and "files" not in snap
    assert len(snap["applied_recent"]) <= table._RECENT_CAP


def test_lineage_sidecars_in_commit_order(spark, tmp_path):
    table = create_pages_table(spark, str(tmp_path / "t3"), n_buckets=4)
    for i in range(3):
        apply_batch(table, _batch(spark, i * 10, [f"https://b/{i}"]), f"e-{i}")
    lin = table.lineage()
    assert [e["batch_id"] for e in lin if e["type"] == "merge"] == [
        "e-0",
        "e-1",
        "e-2",
    ]


def test_point_lookup_prunes_to_one_bucket(spark, tmp_path):
    table = create_pages_table(spark, str(tmp_path / "t4"), n_buckets=8)
    urls = [f"https://site{i}.example/page" for i in range(12)]
    apply_batch(table, _batch(spark, 0, urls), "e-0")
    rows = table.lookup("https://site3.example/page").collect()
    assert len(rows) == 1 and rows[0]["url"] == "https://site3.example/page"
    assert table.lookup("https://nope.example/x").count() == 0
    # pruning: the lookup resolves file entries for exactly one bucket
    snap = table.snapshot()
    bucket = (
        spark.range(1)
        .select(table.bucket_expr(F.lit("https://site3.example/page")).alias("b"))
        .collect()[0]["b"]
    )
    pruned = table.files(snap, {bucket})
    assert pruned and {f["bucket"] for f in pruned} == {bucket}
    assert len(pruned) < len(table.files(snap))


def test_driver_key_bucket_matches_spark(spark):
    """lookup() routes a string key on the driver; the bucket must be
    bucket_expr's for every XXH64 input-length path (32-byte stripes,
    8-byte words, a 4-byte word, single bytes)."""
    from clinical_trials_etl_spark.lake.table import LakeTable

    keys = ["", "é", "https://site3.example/page", "日本語のページ"] + [
        "x" * n + "ü" for n in range(70)]
    got = spark.createDataFrame([(k,) for k in keys], "k string").select(
        F.pmod(F.xxhash64("k"), F.lit(13)).alias("b")).collect()
    snap = {"n_buckets": 13}
    assert [LakeTable._key_bucket(snap, "string", k) for k in keys] == [
        r["b"] for r in got]
    # a value that needs a cast, or another key type, goes to Spark
    assert LakeTable._key_bucket(snap, "string", 5) is None
    assert LakeTable._key_bucket(snap, "long", 5) is None


def test_delta_commits_do_not_rewrite_base(spark, tmp_path):
    """Merge-on-read: a delta commit appends a layer and leaves the
    bucket's existing files untouched — O(batch) write cost (the
    write-amplification fix), with reads reconciling layers."""
    table = create_pages_table(spark, str(tmp_path / "t5a"), n_buckets=2)
    apply_batch(table, _batch(spark, 0, ["https://h0.x/a", "https://h1.x/b"]),
                "e-0")  # cow base
    base_paths = {f["path"] for f in table.files()}
    apply_batch(table, _batch(spark, 100, ["https://h0.x/a"]), "e-1",
                merge_mode="delta")
    after = table.files()
    assert base_paths <= {f["path"] for f in after}  # base untouched
    assert any(f.get("delta") for f in after)
    # reconciliation: the delta row (higher lsn) wins on read
    row = table.read().filter(F.col("url") == "https://h0.x/a").collect()[0]
    assert row["text"].endswith("-100")
    # and a stale delta (lower lsn) loses
    apply_batch(table, _batch(spark, 50, ["https://h0.x/a"]), "e-2",
                merge_mode="delta")
    row = table.read().filter(F.col("url") == "https://h0.x/a").collect()[0]
    assert row["text"].endswith("-100")


def test_delta_mode_rejects_untrackable_batch_ids(spark, tmp_path):
    """Non-numeric batch ids are deduped only by the bounded recent
    set, so exactly-once would degrade to at-least-once after 64
    commits — harmless under COW's max-LSN winner rule, but in delta
    mode a redelivered batch appends duplicate layers. Delta merges
    must refuse ids the durable high-water mark can't track."""
    table = create_pages_table(spark, str(tmp_path / "t5g"), n_buckets=2)
    with pytest.raises(ValueError, match="numeric-suffixed"):
        apply_batch(table, _batch(spark, 0, ["https://h0.x/a"]),
                    "no-numeric-suffix!", merge_mode="delta")
    # cow accepts the same id (redelivery is a semantic no-op there)
    apply_batch(table, _batch(spark, 0, ["https://h0.x/a"]),
                "no-numeric-suffix!")


def test_cow_and_delta_replays_converge_identically(spark, tmp_path):
    urls = [f"https://h{i % 4}.x/p{i % 6}" for i in range(12)]
    t_cow = create_pages_table(spark, str(tmp_path / "t5b"), n_buckets=4)
    t_mor = create_pages_table(spark, str(tmp_path / "t5c"), n_buckets=4)
    for i in range(4):
        chunk = urls[i * 3:(i + 1) * 3]
        apply_batch(t_cow, _batch(spark, i * 10, chunk), f"e-{i}")
        apply_batch(t_mor, _batch(spark, i * 10, chunk), f"e-{i}",
                    merge_mode="delta")
    want = {(r["url"], r["text"]) for r in t_cow.read().collect()}
    assert {(r["url"], r["text"]) for r in t_mor.read().collect()} == want
    # compacting the MOR table changes nothing visible
    t_mor.compact()
    assert {(r["url"], r["text"]) for r in t_mor.read().collect()} == want


def test_compaction_preserves_data_and_shrinks_files(spark, tmp_path):
    table = create_pages_table(spark, str(tmp_path / "t5"), n_buckets=2)
    # delta commits -> layers accrete per bucket
    apply_batch(table, _batch(spark, 0, ["https://h0.x/p0", "https://h1.x/p1"]),
                "e-0")
    for i in range(1, 6):
        apply_batch(
            table, _batch(spark, i * 10, [f"https://h{i % 3}.x/p{i}"]),
            f"e-{i}", merge_mode="delta",
        )
    # delete one row so a tombstone exists through compaction
    tomb = spark.createDataFrame(
        [(999, "D", "https://h0.x/p0", None, None, None, None, None, 1)], COLS
    )
    apply_batch(table, tomb, "e-99", merge_mode="delta")
    before = {r["url"]: r["text"] for r in table.read().collect()}
    files_before = len(table.files())
    stats = table.compact()
    assert stats["compacted_buckets"] >= 1
    after = {r["url"]: r["text"] for r in table.read().collect()}
    assert after == before
    assert len(table.files()) < files_before
    assert len(table.files()) <= 2  # one file per bucket
    assert not any(f.get("delta") for f in table.files())
    # the tombstone's LSN guard survives compaction: a late lower-lsn
    # update still cannot resurrect the deleted row
    late = spark.createDataFrame(
        [(5, "U", "https://h0.x/p0", None, b"<p>late</p>", "en", None, None, 1)],
        COLS,
    )
    apply_batch(table, late, "e-100")
    assert table.read().filter(F.col("url") == "https://h0.x/p0").count() == 0


def test_expire_snapshots_removes_orphans_keeps_current(spark, tmp_path):
    import glob as g

    table = create_pages_table(spark, str(tmp_path / "t6"), n_buckets=2)
    for i in range(5):
        apply_batch(
            table, _batch(spark, i * 10, [f"https://h{i % 2}.x/p"]), f"e-{i}"
        )
    before = {r["url"]: r["text"] for r in table.read().collect()}
    n_before = len(g.glob(str(tmp_path / "t6" / "data" / "**" / "*.parquet"),
                          recursive=True))
    stats = table.expire_snapshots(keep_last=2)
    assert stats["removed_files"] > 0
    n_after = len(g.glob(str(tmp_path / "t6" / "data" / "**" / "*.parquet"),
                         recursive=True))
    assert n_after < n_before
    # current snapshot still reads identically
    assert {r["url"]: r["text"] for r in table.read().collect()} == before
    # previous retained snapshot also still readable
    assert table.read(table.current_version() - 1).count() >= 1


def test_distributed_footer_stats_match_serial(spark, tmp_path):
    """Manifest equality across the two stats-collection paths
    (VERDICT r4 #1): compact/rebucket outputs cross the distributed
    threshold and collect footers via one Spark job; the resulting
    entries — row counts AND per-column min/max — must be byte-equal
    to the serial driver-side path, for every file."""
    from clinical_trials_etl_spark.lake.table import LakeTable

    table = create_pages_table(spark, str(tmp_path / "t"), n_buckets=8)
    for i in range(3):
        apply_batch(
            table,
            _batch(spark, i * 100, [f"https://h{j}/p{i}" for j in range(20)]),
            f"e-{i}",
        )
    # force BOTH paths over the same already-written commit output
    snap = table.snapshot()
    entries = table.files(snap)
    out_dirs = {os.path.dirname(os.path.dirname(e["path"]))
                for e in entries}
    phys = entries[0]["phys"]
    old = LakeTable.STATS_DISTRIBUTED_MIN_FILES
    try:
        for out_dir in sorted(out_dirs):
            LakeTable.STATS_DISTRIBUTED_MIN_FILES = 10**9
            serial = table._collect_written_files(out_dir, phys)
            LakeTable.STATS_DISTRIBUTED_MIN_FILES = 0
            dist = table._collect_written_files(out_dir, phys)
            assert serial == dist
            assert serial[1] > 0 and all(
                f["stats"].get("f_1") for f in serial[0])  # url stats exist
    finally:
        LakeTable.STATS_DISTRIBUTED_MIN_FILES = old


def test_compact_uses_distributed_stats_above_threshold(spark, tmp_path):
    """compact() on a table whose rewrite crosses the threshold goes
    through the distributed job and still produces a readable,
    stats-skippable layout identical in content to before."""
    from clinical_trials_etl_spark.lake.table import LakeTable

    table = create_pages_table(spark, str(tmp_path / "t2"), n_buckets=8)
    for i in range(4):
        apply_batch(
            table,
            _batch(spark, i * 100, [f"https://h{j}/q{i}" for j in range(16)]),
            f"e-{i}", merge_mode="delta",
        )
    before = {(r["url"], r["text"]) for r in
              table.read(columns=["url", "text"]).collect()}
    old = LakeTable.STATS_DISTRIBUTED_MIN_FILES
    try:
        LakeTable.STATS_DISTRIBUTED_MIN_FILES = 1  # force distributed
        out = table.compact(sort_by="url", rows_per_file=8)
    finally:
        LakeTable.STATS_DISTRIBUTED_MIN_FILES = old
    assert out["compacted_buckets"] > 0
    after = {(r["url"], r["text"]) for r in
             table.read(columns=["url", "text"]).collect()}
    assert after == before
    # the compacted manifests carry usable stats on the sort column
    assert all(e["stats"].get("f_1") for e in table.files())


def test_read_as_of_timestamp_time_travel(spark, tmp_path):
    """`FOR SYSTEM_TIME AS OF` analog: version_as_of resolves a wall
    instant to the snapshot current then; read(as_of=) returns that
    state; instants before the table existed (or whose snapshot was
    expired) raise instead of nearest-neighboring."""
    import datetime

    table = create_pages_table(spark, str(tmp_path / "t_asof"), n_buckets=2)
    apply_batch(table, _batch(spark, 0, ["https://a/1"]), "e-0")
    apply_batch(table, _batch(spark, 10, ["https://a/2"]), "e-1")
    apply_batch(table, _batch(spark, 20, ["https://a/3"]), "e-2")

    times = {}
    for v in range(table.current_version() + 1):
        times[v] = table.snapshot(v)["committed_at"]

    # strictly between v1 and v2 commits -> resolves to v1's state
    mid = (times[1] + times[2]) / 2
    assert table.version_as_of(mid) == 1
    urls = {r["url"] for r in table.read(as_of=mid).select("url").collect()}
    assert urls == {"https://a/1"}  # e-0 only: v1 is the first merge

    # datetime accepted (tz-aware)
    dt = datetime.datetime.fromtimestamp(mid, tz=datetime.timezone.utc)
    assert table.version_as_of(dt) == 1

    # at-or-after the newest commit -> current version
    assert table.version_as_of(times[table.current_version()] + 1) \
        == table.current_version()

    # before the table existed -> error, never a silent nearest pick
    with pytest.raises(ValueError, match="no snapshot existed"):
        table.version_as_of(times[0] - 10.0)

    # version and as_of are exclusive
    with pytest.raises(ValueError, match="not both"):
        table.read(version=1, as_of=mid)

    # monotone tie handling: exactly at a commit instant -> that commit
    assert table.version_as_of(times[2]) == 2

    # meta-dir hole (manual damage, not retention — expire keeps all
    # snapshot JSONs): resolving just below a missing successor must
    # refuse, never silently return the older state
    os.remove(table._snap_path(2))
    with pytest.raises(ValueError, match="missing from the metadata"):
        table.version_as_of(mid)


def test_expire_snapshots_age_based_retention(spark, tmp_path):
    """older_than_s keeps every snapshot committed within the window
    (keep_last is the floor): 'N hours of time travel, never fewer
    than K snapshots' — and versions outside both windows lose their
    exclusive files."""
    import glob as g

    table = create_pages_table(spark, str(tmp_path / "t_age"),
                               n_buckets=2)
    for i in range(5):
        apply_batch(
            table, _batch(spark, i * 10, [f"https://h{i % 2}.x/p"]),
            f"e-{i}"
        )
    cur = table.current_version()
    # huge age window: every snapshot is inside it -> nothing removed
    stats = table.expire_snapshots(keep_last=1, older_than_s=3600.0)
    assert stats["removed_files"] == 0
    assert table.read(cur - 4).count() >= 0   # oldest still readable

    # age the older snapshots artificially (monotonicity preserved)
    import json as _json
    for v in range(0, cur - 1):
        p = table._snap_path(v)
        snap = _json.load(open(p))
        snap["committed_at"] -= 7200.0
        _json.dump(snap, open(p, "w"))
    n_before = len(g.glob(str(tmp_path / "t_age" / "data" / "**"
                              / "*.parquet"), recursive=True))
    stats = table.expire_snapshots(keep_last=1, older_than_s=3600.0)
    # keep_last=1 alone would keep only the head; the age window
    # additionally keeps cur-1 (still recent), everything older goes
    assert stats["removed_files"] > 0
    assert len(g.glob(str(tmp_path / "t_age" / "data" / "**"
                          / "*.parquet"), recursive=True)) < n_before
    assert table.read(cur - 1).count() >= 1   # in the age window
    assert ({r["url"] for r in table.read().collect()}
            == {r["url"] for r in table.read(cur).collect()})
