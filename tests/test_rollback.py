"""Rollback (LakeTable.rollback — Iceberg rollback / Delta RESTORE
analog) and its CDC-reprocessing contract.

The scenario that matters at design scale: a bad deploy corrupts
epochs N+1..M. Recovery = roll the table back to N's snapshot, fix the
code, replay the SAME log — which only works if the rollback also
restores the idempotency ledger (batch_hwm), so the re-delivered
epochs re-APPLY instead of no-oping as duplicates. Pinned here:
replay -> rollback mid-log -> re-replay converges byte-identically to
an uninterrupted replay.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_trials_etl_spark.cdc.replay import replay
from clinical_trials_etl_spark.datagen.changelog import (
    LogSpec,
    changelog_df,
    write_changelog_segments,
)
from clinical_trials_etl_spark.datagen.reference_fold import fold_changelog
from clinical_trials_etl_spark.lake.table import LakeTable

FIELDS = [
    {"id": 1, "name": "url", "type": "string"},
    {"id": 2, "name": "val", "type": "string"},
]


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "url string, val string, lsn long, op string")


def _state(t, version=None):
    return {(r["url"], r["val"])
            for r in t.read(version=version).collect()}


def test_rollback_restores_state_and_keeps_history(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=2)
    t.merge(_batch(spark, [("u1", "a", 1, "I"), ("u2", "b", 2, "I")]),
            batch_id="e-1")
    t.merge(_batch(spark, [("u1", "BAD", 10, "U"),
                           ("u2", None, 11, "D")]), batch_id="e-2")
    good, bad = _state(t, 1), _state(t)
    assert good != bad

    stats = t.rollback(1)
    assert stats == {"rolled_back_to": 1, "version": 3}
    assert _state(t) == good
    # the bad history is preserved evidence, not erased
    assert _state(t, 2) == bad
    assert [e["type"] for e in t.lineage()][-1] == "rollback"
    # rolling back to the current state is a no-op, not a new commit
    assert t.rollback(3)["noop"] is True
    assert t.current_version() == 3


def test_rollback_restores_idempotency_ledger(spark, tmp_path):
    """After rollback, re-delivering the rolled-back epoch re-APPLIES
    (the point of reprocessing); re-delivering an epoch from BEFORE
    the target still no-ops."""
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=2)
    t.merge(_batch(spark, [("u1", "a", 1, "I")]), batch_id="e-1")
    t.merge(_batch(spark, [("u1", "a2", 10, "U")]), batch_id="e-2")
    t.rollback(1)

    s = t.merge(_batch(spark, [("u1", "a", 1, "I")]), batch_id="e-1")
    assert s.get("skipped"), "pre-target epoch must stay deduped"
    s = t.merge(_batch(spark, [("u1", "FIXED", 10, "U")]),
                batch_id="e-2")
    assert not s.get("skipped"), "rolled-back epoch must re-apply"
    assert _state(t) == {("u1", "FIXED")}


def test_rollback_then_replay_converges(spark, tmp_path):
    """The flagship recovery drill over the real replay path: full
    replay == (replay, roll back mid-log, replay the same log)."""
    spec = LogSpec(n_events=1500, n_hosts=20, seed=13)
    log = str(tmp_path / "log")
    write_changelog_segments(spark, spec, log, n_segments=4)

    t = replay(spark, log, str(tmp_path / "t"), segments_per_batch=1)
    want = {r["url"]: r["text"] for r in t.read().collect()}

    # find the snapshot after the 2nd merge commit and roll back to it
    merges = [i for i, e in enumerate(t.lineage(), start=1)
              if e["type"] == "merge"]
    t.rollback(merges[1])
    assert t.read().count() < len(want)

    t2 = replay(spark, log, str(tmp_path / "t"), segments_per_batch=1)
    got = {r["url"]: r["text"] for r in t2.read().collect()}
    assert got == want

    exp = fold_changelog(
        [r.asDict() for r in changelog_df(spark, spec).collect()])
    assert set(got) == set(exp)
    assert all(got[u] == exp[u]["text"] for u in exp)


def test_changes_fails_fast_across_rollback(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=2)
    t.merge(_batch(spark, [("u1", "a", 1, "I")]), batch_id="e-1")
    t.merge(_batch(spark, [("u1", "a2", 10, "U")]), batch_id="e-2")
    t.rollback(1)  # v3
    t.merge(_batch(spark, [("u2", "b", 20, "I")]), batch_id="e-3")

    with pytest.raises(ValueError, match="rollback"):
        t.changes(0).collect()
    # windows that do not cross the rollback still work
    pre = {r["url"] for r in t.changes(0, 2).collect()}
    assert pre == {"u1"}
    post = {r["url"] for r in t.changes(3, 4).collect()}
    assert post == {"u2"}


def test_rollback_restores_schema(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=2)
    t.merge(_batch(spark, [("u1", "a", 1, "I")]), batch_id="e-1")
    t.evolve(
        [{"id": 1, "name": "url", "type": "string"},
         {"id": 2, "name": "renamed", "type": "string"}],
        note="rename val -> renamed")
    assert {f["name"] for f in t.fields()} == {"url", "renamed"}
    t.rollback(1)
    assert {f["name"] for f in t.fields()} == {"url", "val"}
    assert t.read().where(F.col("val") == "a").count() == 1


def test_rollback_to_expired_version_raises(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=2)
    t.merge(_batch(spark, [("u1", "a", 1, "I")]), batch_id="e-1")
    t.merge(_batch(spark, [("u1", "a2", 2, "U")]), batch_id="e-2")
    t.merge(_batch(spark, [("u1", "a3", 3, "U")]), batch_id="e-3")
    t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="no longer readable"):
        t.rollback(1)


def test_rollback_on_delta_layered_table(spark, tmp_path):
    """Rollback of a merge-on-read snapshot re-references its layer
    manifests as-is; replaying the same delta log converges, including
    the compaction that follows."""
    spec = LogSpec(n_events=1200, n_hosts=15, seed=23)
    log = str(tmp_path / "log")
    write_changelog_segments(spark, spec, log, n_segments=4)
    t = replay(spark, log, str(tmp_path / "t"), segments_per_batch=1,
               merge_mode="delta", maintenance=[(2, LakeTable.compact)])
    want = {r["url"]: r["text"] for r in t.read().collect()}

    merges = [i for i, e in enumerate(t.lineage(), start=1)
              if e["type"] == "merge"]
    t.rollback(merges[0])  # back to the first delta commit
    t2 = replay(spark, log, str(tmp_path / "t"), segments_per_batch=1,
                merge_mode="delta", maintenance=[(2, LakeTable.compact)])
    got = {r["url"]: r["text"] for r in t2.read().collect()}
    assert got == want


def test_ivm_refresh_across_rollback_fails_fast(spark, tmp_path):
    """A view that lags behind a rollback must refuse to refresh (the
    feed window crosses the revert) rather than silently under-count —
    the consumer recreates the view from scratch."""
    from clinical_trials_etl_spark.cdc.ivm import (
        create_agg_view,
        refresh_agg_view,
    )

    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=2)
    t.merge(_batch(spark, [("u1", "a", 1, "I")]), batch_id="e-1")
    view = create_agg_view(spark, t, str(tmp_path / "v"), ["val"],
                           [("count", None, "n")])
    refresh_agg_view(t, view)  # consumed up to v1
    t.merge(_batch(spark, [("u2", "b", 2, "I")]), batch_id="e-2")
    t.rollback(1)
    t.merge(_batch(spark, [("u3", "c", 3, "I")]), batch_id="e-3")
    with pytest.raises(ValueError, match="rollback"):
        refresh_agg_view(t, view)


def test_history_lists_commits_newest_first(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=2)
    t.merge(_batch(spark, [("u1", "a", 1, "I")]), batch_id="e-1")
    t.merge(_batch(spark, [("u1", "a2", 9, "U")]), batch_id="e-2")
    t.compact(sort_by="val")
    t.rollback(1)
    h = t.history()
    assert [r["version"] for r in h] == [4, 3, 2, 1, 0]
    assert [r["operation"] for r in h] == [
        "rollback", "compaction", "merge", "merge", "create"]
    assert h[0]["detail"]["to"] == 1
    assert all(r["parent"] == r["version"] - 1 for r in h[:-1])
