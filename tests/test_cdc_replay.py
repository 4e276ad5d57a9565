"""Replay-equivalence tests (SURVEY.md §5 test 1 + BASELINE.json): the
distributed CDC path must converge to the exact final state computed by
the independent in-memory fold, under duplicates, out-of-order LSNs,
deletes, schema evolution, and kill/resume.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_trials_etl_spark.cdc.apply import apply_batch
from clinical_trials_etl_spark.cdc.replay import create_pages_table, replay
from clinical_trials_etl_spark.lake.table import LakeTable
from clinical_trials_etl_spark.cdc.registry import PAGES_REGISTRY, diff
from clinical_trials_etl_spark.datagen.changelog import (
    LogSpec,
    changelog_df,
    write_changelog_segments,
)
from clinical_trials_etl_spark.datagen.reference_fold import fold_changelog

SPEC = LogSpec(n_events=3000, n_hosts=12, paths_per_host=40, seed=42)


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wal"))
    write_changelog_segments(spark, SPEC, d, n_segments=6)
    return d


@pytest.fixture(scope="module")
def expected(spark, log_dir):
    rows = [
        r.asDict()
        for r in spark.read.option("basePath", log_dir).parquet(log_dir).collect()
    ]
    return fold_changelog(rows)


def _final_state(table) -> dict:
    rows = table.read().collect()
    return {
        r["url"]: {
            "url": r["url"],
            "warc_ts": r["warc_ts"],
            "html": bytes(r["html"]) if r["html"] is not None else None,
            "text": r["text"],
            "language": r["language"],
            "fetch_status": r["fetch_status"],
        }
        for r in rows
    }


def _assert_state_equal(got: dict, want: dict):
    assert set(got) == set(want), (
        f"url sets differ: extra={sorted(set(got) - set(want))[:3]} "
        f"missing={sorted(set(want) - set(got))[:3]}"
    )
    for url in want:
        assert got[url] == want[url], f"row mismatch for {url}:\n{got[url]}\n{want[url]}"


def test_full_replay_matches_fold(spark, log_dir, expected, tmp_path):
    table = replay(spark, log_dir, str(tmp_path / "tbl"), segments_per_batch=2)
    _assert_state_equal(_final_state(table), expected)
    # final schema must be the evolved one (v4: language + fetch_status long)
    names = {f["name"]: f["type"] for f in table.fields()}
    assert names["language"] == "string"
    assert names["fetch_status"] == "long"
    assert diff(table.fields(), PAGES_REGISTRY[4]) == []


def test_kill_resume_converges_identically(spark, log_dir, expected, tmp_path):
    """Stop mid-replay, then resume INCLUDING re-applying an already
    applied batch (simulating foreachBatch retry after failure) — the
    final snapshot must be identical."""
    root = str(tmp_path / "tbl2")
    replay(spark, log_dir, root, segments_per_batch=1, start_segment=0)
    # "crash": now re-run the whole replay over the same table — every
    # batch_id is already applied, so all merges must no-op
    table = replay(spark, log_dir, root, segments_per_batch=1, start_segment=0)
    v_before = table.current_version()
    table2 = replay(spark, log_dir, root, segments_per_batch=1, start_segment=3)
    assert table2.current_version() == v_before  # retries were no-ops
    _assert_state_equal(_final_state(table2), expected)


def test_partial_then_resume(spark, log_dir, expected, tmp_path):
    """Apply only the first half, then resume the rest."""
    root = str(tmp_path / "tbl3")
    replay(spark, log_dir, root, segments_per_batch=1, start_segment=0)
    # a second replay starting mid-way must not double-apply and must
    # complete to the same state
    table = replay(spark, log_dir, root, segments_per_batch=1, start_segment=2)
    _assert_state_equal(_final_state(table), expected)


def test_two_phase_replay_needs_distinct_prefixes(spark, log_dir, tmp_path):
    """Two replay passes over DIFFERENT logs into the same table (a
    base load then an update drip, as in BENCH/BASELINE.md's batch
    merge-on-read measurement) both start at
    segment index 0, so a shared batch-id prefix would make
    ``is_applied`` skip the second pass's first batch. Distinct
    prefixes must apply every batch of both passes."""
    root = str(tmp_path / "tbl5")
    table = replay(spark, log_dir, root, segments_per_batch=1,
                   batch_prefix="base")
    v_after_base = table.current_version()
    upd_dir = str(tmp_path / "wal_upd")
    write_changelog_segments(
        spark,
        LogSpec(n_events=400, n_hosts=12, paths_per_host=40, seed=7,
                p_insert=0.1, p_update=0.9, lsn_offset=SPEC.n_events),
        upd_dir,
        n_segments=2,
    )
    table = replay(spark, upd_dir, root, segments_per_batch=1,
                   batch_prefix="update")
    # both update batches committed (nothing silently skipped)
    assert table.current_version() == v_after_base + 2
    # and the combined state equals the fold over both logs
    rows = [
        r.asDict()
        for d in (log_dir, upd_dir)
        for r in spark.read.option("basePath", d).parquet(d).collect()
    ]
    _assert_state_equal(_final_state(table), fold_changelog(rows))


def test_redelivered_data_under_new_batch_id_is_semantic_noop(
    spark, log_dir, expected, tmp_path
):
    """An upstream RESEND of already-applied events arrives as a fresh
    batch_id (so the applied-batches guard does not catch it); the
    per-key max-LSN guard must still make it a semantic no-op — every
    redelivered event is older-or-equal to what the table holds."""
    root = str(tmp_path / "tbl4")
    table = replay(spark, log_dir, root, segments_per_batch=2)
    before = _final_state(table)
    batch = spark.read.option("basePath", log_dir).parquet(log_dir)
    stats = apply_batch(
        table, batch, batch_id="redelivery-1", registry=PAGES_REGISTRY
    )
    assert not stats["skipped"]  # it DID run — convergence is semantic
    _assert_state_equal(_final_state(table), before)
    _assert_state_equal(_final_state(table), expected)


def test_delta_merge_writes_one_winner_per_key(spark, tmp_path):
    """merge() owns the winner rule in delta mode too: a source with
    duplicate deliveries, out-of-order lsns and a (lsn, delete) tie
    commits exactly one max-(lsn, deleted) row per key."""
    rows = [
        (1, "I", "u1", "a"),
        (5, "U", "u1", "b"),
        (3, "U", "u1", "c"),
        (5, "U", "u1", "b"),  # duplicate delivery
        (2, "I", "u2", "x"),
        (4, "U", "u3", "y"),
        (4, "D", "u3", None),  # tombstone outranks live at equal lsn
    ]
    table = LakeTable.create(
        spark, str(tmp_path / "t"),
        [{"id": 1, "name": "url", "type": "string"},
         {"id": 2, "name": "payload", "type": "string"}],
        "url", n_buckets=4)
    df = spark.createDataFrame(
        rows, "lsn long, op string, url string, payload string")
    stats = table.merge(df, batch_id="e-1", mode="delta")
    assert stats["merged_rows"] == 3
    got = {r["url"]: (r["_lsn"], r["_deleted"], r["payload"])
           for r in table.read_raw().collect()}
    assert got == {"u1": (5, False, "b"), "u2": (2, False, "x"),
                   "u3": (4, True, None)}


def test_replay_applies_segments_in_numeric_order(spark, tmp_path):
    """segment=10 replays after segment=2, not before: each commit's
    lineage names its segments, in log order (four per commit, so a
    name-sorted log would commit segment=10 in the first batch)."""
    log = str(tmp_path / "wal")
    write_changelog_segments(
        spark, LogSpec(n_events=240, n_hosts=4, seed=5), log,
        n_segments=12, files_per_segment=1)
    table = replay(spark, log, str(tmp_path / "tbl"),
                   segments_per_batch=4, n_buckets=2)
    segs = [s for e in table.lineage() for s in e.get("segments", [])]
    assert segs == [f"segment={i}" for i in range(12)]


def test_late_update_after_delete_stays_deleted(spark, tmp_path):
    """Cross-batch LSN guard: delete at lsn 100 in batch 1, then a late
    update at lsn 90 in batch 2 must NOT resurrect the row (the
    correctness gap of the reference's unconditional upsert)."""
    table = create_pages_table(spark, str(tmp_path / "tbl4"), n_buckets=4)
    cols = "lsn long, op string, url string, warc_ts timestamp, html binary, lang string, language string, fetch_status long, schema_ver int"
    b1 = spark.createDataFrame(
        [
            (10, "I", "u1", None, b"<p>v1</p>", "en", None, None, 1),
            (100, "D", "u1", None, None, None, None, None, 1),
        ],
        cols,
    )
    apply_batch(table, b1, "b1")
    b2 = spark.createDataFrame(
        [(90, "U", "u1", None, b"<p>late</p>", "en", None, None, 1)], cols
    )
    apply_batch(table, b2, "b2")
    assert table.read().filter(F.col("url") == "u1").count() == 0
    # and a GENUINELY newer update does resurrect
    b3 = spark.createDataFrame(
        [(110, "U", "u1", None, b"<p>new</p>", "en", None, None, 1)], cols
    )
    apply_batch(table, b3, "b3")
    rows = table.read().filter(F.col("url") == "u1").collect()
    assert len(rows) == 1 and rows[0]["text"] == "new"


def test_hot_key_distribution(spark, log_dir):
    """The Zipf generator must actually produce a hot host (the skew the
    winner aggregation's partial aggregation absorbs)."""
    df = spark.read.option("basePath", log_dir).parquet(log_dir)
    counts = (
        df.withColumn("host", F.regexp_extract("url", r"https://([^/]+)/", 1))
        .groupBy("host")
        .count()
        .orderBy(F.desc("count"))
        .collect()
    )
    total = sum(r["count"] for r in counts)
    assert counts[0]["count"] > 0.3 * total  # hot head


def test_cow_over_delta_layers_reconciles_before_winner_decision(
    spark, tmp_path
):
    """A cow commit on a table holding unreconciled delta layers: gate
    that a superseded layer row can never resurface through a cow
    merge."""
    table = create_pages_table(spark, str(tmp_path / "mix"), n_buckets=4)
    # two delta epochs: second supersedes first for some urls
    b1 = changelog_df(spark, LogSpec(n_events=30, n_hosts=3, seed=1))
    apply_batch(table, b1, "e-0", merge_mode="delta")
    b2 = changelog_df(
        spark, LogSpec(n_events=30, n_hosts=3, seed=2, lsn_offset=30))
    apply_batch(table, b2, "e-1", merge_mode="delta")
    want = {(r["url"], r["text"], r["_lsn"])
            for r in table.read_raw().select(
                "url", "text", "_lsn").collect()}
    # a cow epoch over the layered table must keep exactly the
    # reconciled winners for untouched keys
    b3 = changelog_df(
        spark, LogSpec(n_events=10, n_hosts=1, seed=3, lsn_offset=60))
    apply_batch(table, b3, "e-2", merge_mode="cow")
    got = {(r["url"], r["text"], r["_lsn"])
           for r in table.read_raw().select(
               "url", "text", "_lsn").collect()}
    b3_urls = {r["url"] for r in b3.select("url").distinct().collect()}
    assert ({t for t in got if t[0] not in b3_urls}
            == {t for t in want if t[0] not in b3_urls})


def test_replay_delta_mode_converges_identically(
    spark, log_dir, expected, tmp_path
):
    """Batch replay through the merge-on-read path (replay(merge_mode=
    'delta', maintenance=[(k, compact)])) must converge to the same
    fold state as
    COW replay — the backfill twin of the streaming delta test."""
    table = replay(spark, log_dir, str(tmp_path / "mor"),
                   merge_mode="delta",
                   maintenance=[(3, LakeTable.compact)])
    got = {r["url"]: r.asDict() for r in table.read().collect()}
    assert set(got) == set(expected)
    for url, want in expected.items():
        assert got[url]["text"] == want["text"], url
        assert got[url]["language"] == want["language"], url
    kinds = [e["type"] for e in table.lineage()]
    assert "compaction" in kinds  # the cadence actually fired


def test_empty_batch_is_graceful_noop(spark, tmp_path):
    """A streaming trigger can deliver an EMPTY micro-batch; the apply
    path must no-op (no crash on the all-null metadata aggregate, no
    spurious commit) — pinned because the meta agg's max(schema_ver)
    returns null on empty input."""
    table = create_pages_table(spark, str(tmp_path / "t"), n_buckets=4)
    cols = (
        "lsn long, op string, url string, warc_ts timestamp, html binary,"
        " lang string, language string, fetch_status long, schema_ver int"
    )
    stats = apply_batch(table, spark.createDataFrame([], cols), "empty-1")
    assert stats["merged_rows"] == 0 and stats["touched_buckets"] == 0
    assert table.current_version() == 1  # create only — no data commit
    assert table.read().count() == 0


@pytest.mark.parametrize(
    "spec",
    [
        # all deletes after a base: tombstone-heavy regime
        LogSpec(n_events=800, n_hosts=6, paths_per_host=10, seed=3,
                p_insert=0.2, p_update=0.1),
        # half the log redelivered verbatim: exactly-once stress
        LogSpec(n_events=800, n_hosts=6, paths_per_host=10, seed=4,
                dup_rate=0.5),
        # nearly everything out of order with a huge lag window
        LogSpec(n_events=800, n_hosts=6, paths_per_host=10, seed=5,
                ooo_frac=0.9, max_lag_s=86_400),
        # extreme host skew: one hot host takes ~all events
        LogSpec(n_events=800, n_hosts=40, paths_per_host=10, seed=6,
                skew_exp=8.0),
    ],
    ids=["delete-heavy", "dup-heavy", "ooo-heavy", "skew-heavy"],
)
def test_replay_matches_fold_under_extreme_mixes(spark, tmp_path, spec):
    """Replay == fold under adversarial log compositions, not just the
    default mix (SURVEY.md §5 fuzz axis)."""
    d = str(tmp_path / "wal")
    write_changelog_segments(spark, spec, d, n_segments=3)
    table = replay(spark, d, str(tmp_path / "tbl"), segments_per_batch=1)
    rows = [
        r.asDict()
        for r in spark.read.option("basePath", d).parquet(d).collect()
    ]
    _assert_state_equal(_final_state(table), fold_changelog(rows))
