"""Metadata tables (lake/metadata.py) — the Iceberg inspection-surface
analog. Facts asserted against independent sources: files vs a direct
``spark.read.parquet`` over the listed paths, partitions vs a pandas
re-aggregation of files, snapshots/lineage vs the table's own commit
ledger, and the serial-vs-distributed I/O enrichment paths pinned
identical."""

from __future__ import annotations

import json

import pytest

from clinical_trials_etl_spark.cdc.apply import apply_batch
from clinical_trials_etl_spark.cdc.replay import create_pages_table
from clinical_trials_etl_spark.lake import metadata as md

COLS = (
    "lsn long, op string, url string, warc_ts timestamp, html binary,"
    " lang string, language string, fetch_status long, schema_ver int"
)


def _batch(spark, lsn0, urls, op="I"):
    return spark.createDataFrame(
        [
            (lsn0 + i, op, u, None, f"<p>{u}-{lsn0}</p>".encode(), "en",
             None, None, 1)
            for i, u in enumerate(urls)
        ],
        COLS,
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = create_pages_table(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(t, _batch(spark, 0, [f"https://a/{i}" for i in range(8)]),
                "e-0")
    apply_batch(t, _batch(spark, 100, [f"https://b/{i}" for i in range(4)]),
                "e-1")
    # one merge-on-read layer on top
    apply_batch(t, _batch(spark, 200, ["https://a/0", "https://a/1"]),
                "e-2", merge_mode="delta")
    return t


def test_snapshots_df_matches_commit_ledger(table):
    df = md.snapshots_df(table).orderBy("version")
    rows = df.collect()
    assert [r["version"] for r in rows] == [0, 1, 2, 3]
    assert rows[0]["operation"] == "create"
    assert all(r["operation"] == "merge" for r in rows[1:])
    assert [r["batch_id"] for r in rows[1:]] == ["e-0", "e-1", "e-2"]
    # commit timestamps monotone in version (the time-travel invariant)
    epochs = [r["committed_at_epoch"] for r in rows]
    assert epochs == sorted(epochs)
    assert [r["is_current"] for r in rows] == [False, False, False, True]
    assert rows[3]["merged_rows"] == 2


def test_history_linear_ancestry(table):
    rows = md.history_df(table).collect()
    assert [r["version"] for r in rows] == [0, 1, 2, 3]
    assert all(r["is_current_ancestor"] for r in rows)
    assert [r["parent"] for r in rows] == [None, 0, 1, 2]


def test_files_df_against_direct_parquet_read(spark, table):
    fdf = md.files_df(table)
    rows = fdf.collect()
    # exactly the planner's live file set, no more, no less
    assert {r["path"] for r in rows} == {
        e["path"] for e in table.files()
    }
    # record_count is a real footer fact: the sum must equal a direct
    # Spark read over the same physical files (a delta layer file has
    # a row under each of its buckets, and is read once)
    direct = spark.read.parquet(*{r["path"] for r in rows}).count()
    assert sum(r["record_count"] for r in rows) == direct
    assert all(r["size_bytes"] > 0 for r in rows)
    # the delta commit shows up as layer>0 files flagged is_delta
    delta = [r for r in rows if r["is_delta"]]
    assert delta and all(r["layer"] > 0 for r in delta)
    assert all(not r["is_delta"] for r in rows if r["layer"] == 0)
    # stats are remapped to LOGICAL column names
    stats = json.loads(rows[0]["stats_json"])
    assert "url" in stats and "_lsn" in stats
    assert not any(k.startswith("f_") for k in stats)


def test_files_df_distributed_path_identical(table):
    serial = {
        r["path"]: r for r in md.files_df(table).collect()
    }
    table.STATS_DISTRIBUTED_MIN_FILES = 1  # instance override
    dist = {r["path"]: r for r in md.files_df(table).collect()}
    assert serial.keys() == dist.keys()
    for p in serial:
        assert serial[p] == dist[p]


def test_files_df_version_and_io_opt_out(table):
    v1 = md.files_df(table, version=1, with_io_stats=False)
    rows = v1.collect()
    assert all(r["version"] == 1 for r in rows)
    assert all(r["record_count"] is None for r in rows)
    # v1 predates the b/ batch and the delta layer
    assert not any(r["is_delta"] for r in rows)
    assert len(rows) < md.files_df(table, with_io_stats=False).count()


def test_partitions_df_is_exact_rollup(table):
    files = md.files_df(table).toPandas()
    parts = {r["bucket"]: r for r in md.partitions_df(table).collect()}
    grouped = files.groupby("bucket")
    assert set(parts) == set(grouped.groups)
    for b, g in grouped:
        assert parts[b]["file_count"] == len(g)
        assert parts[b]["delta_files"] == int(g["is_delta"].sum())
        assert parts[b]["layers"] == int(g["layer"].max()) + 1
        assert parts[b]["total_bytes"] == int(g["size_bytes"].sum())
        assert parts[b]["total_records"] == int(g["record_count"].sum())


def test_refs_df_head_tag_and_staged_wap(spark, table):
    table.tag("train-v1", 2)
    apply_batch(table, _batch(spark, 300, ["https://c/0"]), "audit-1",
                wap_id="nightly")
    refs = {(r["name"], r["type"]): r["version"]
            for r in md.refs_df(table).collect()}
    assert refs[("current", "head")] == table.current_version()
    assert refs[("train-v1", "tag")] == 2
    assert refs[("nightly", "wap-staged")] == table.current_version()
    table.abort_staged("nightly")
    assert md.refs_df(table).filter("type = 'wap-staged'").count() == 0
    # branches list with their fork version and drop out cleanly
    table.create_branch("audit")
    refs = {(r["name"], r["type"]): r["version"]
            for r in md.refs_df(table).collect()}
    assert refs[("audit", "branch")] == table.current_version()
    table.drop_branch("audit")
    assert md.refs_df(table).filter("type = 'branch'").count() == 0


def test_lineage_df_detail_preserved(spark, table):
    apply_batch(table, _batch(spark, 400, ["https://d/0"]), "e-3",
                lineage={"source_offsets": "42..43"})
    rows = {r["version"]: r for r in md.lineage_df(table).collect()}
    last = table.current_version()
    assert rows[last]["batch_id"] == "e-3"
    assert json.loads(rows[last]["detail_json"])["source_offsets"] == "42..43"
    assert rows[last]["operation"] == "merge"
    # every commit with a ledger entry appears exactly once
    assert sorted(rows) == [1, 2, 3, last]


def test_meta_df_dispatch_and_views(spark, table):
    assert md.meta_df(table, "partitions").count() > 0
    with pytest.raises(ValueError, match="unknown metadata table"):
        md.meta_df(table, "nope")
    views = md.register_metadata_views(table, "pages")
    assert "pages_files" in views
    total = spark.sql(
        "SELECT SUM(record_count) AS n FROM pages_files"
    ).collect()[0]["n"]
    assert total == md.files_df(table).toPandas()["record_count"].sum()
    hot = spark.sql(
        "SELECT bucket FROM pages_partitions ORDER BY delta_files DESC"
    ).collect()
    assert len(hot) == md.partitions_df(table).count()


def test_meta_views_refresh_on_stream_cadence(spark, tmp_path):
    """register_metadata_views on run_stream's schedule, every epoch:
    after the stream drains, the session's temp views reflect the
    FINAL table state (every applied epoch re-registered them), with
    the manifest-only I/O columns null — the hot path never pays
    footer reads."""
    from clinical_trials_etl_spark.cdc.stream import run_stream
    from clinical_trials_etl_spark.datagen.changelog import (
        LogSpec,
        write_changelog_segments,
    )

    log = str(tmp_path / "wal")
    write_changelog_segments(
        spark, LogSpec(n_events=400, n_hosts=6, seed=11), log,
        n_segments=3)
    t = create_pages_table(spark, str(tmp_path / "t"), n_buckets=4)
    run_stream(spark, log, t, str(tmp_path / "ckpt"),
               max_files_per_trigger=1, merge_mode="delta",
               maintenance=[(1, lambda tb: md.register_metadata_views(
                   tb, "live", with_io_stats=False))])
    snaps = spark.sql(
        "SELECT MAX(version) AS v FROM live_snapshots").collect()[0]
    assert snaps["v"] == t.current_version()
    parts = spark.sql(
        "SELECT SUM(file_count) AS f, SUM(total_bytes) AS b "
        "FROM live_partitions").collect()[0]
    assert parts["f"] == len(t.files(t.snapshot()))
    assert parts["b"] is None  # with_io_stats=False on the cadence


def test_job_describe_mode(spark, table, tmp_path):
    from clinical_trials_etl_spark.job import main

    out = main(["--describe", "--table", table.root])
    assert out["mode"] == "describe"
    assert out["version"] == table.current_version()
    files = md.files_df(table).toPandas()
    assert out["files"] == len(files)
    assert out["delta_files"] == int(files["is_delta"].sum())
    assert out["total_records"] == int(files["record_count"].sum())
    assert out["max_layers"] >= 2  # the fixture stacked a delta layer
    assert out["operations"]["merge"] >= 3
    assert {r["name"] for r in out["refs"]} >= {"current"}
    # the skew signal is a ratio >= 1 whenever any bytes exist
    assert out["max_bucket_bytes_ratio"] >= 1.0
