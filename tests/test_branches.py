"""Branches (mutable named refs with their own commit chain) and the
squash fast_forward publish.

The multi-commit generalization of WAP: fork a branch (metadata-only),
run any number of commits against it — merges in both modes,
compaction, schema evolution — audit the RESULT STATE, then publish
atomically with ``fast_forward`` or discard with ``drop_branch``.
Contracts pinned here:

- fork isolation: branch commits never move main; branch reads see
  them immediately;
- fast_forward state parity: publishing equals having applied the same
  batches directly to main (LSN-identical rows, schema carried);
- exactly-once across the seam: epochs the branch absorbed are no-ops
  when re-delivered to main after publish;
- the published commit is ONE change-feed commit whose net rows fold
  downstream state (mirror) to the main state — O(branch changes);
- ancestry guard: main moved since the fork => CommitConflict;
- retention/GC: branch-referenced files survive main's
  expire_snapshots/remove_orphans; dropped-branch files are reclaimed;
- honest feed caveats: a branch history containing a rollback
  publishes feed-opaque (consumers resync); a rebucketing branch
  publishes with pre-state bucket pruning disabled.

Reference analog: none — the reference's store has no bulk-load
isolation at all (every upsert is immediately visible,
trials_extractor/storage/mongodb_storage.py); this is the
audited-publish replacement.
"""

from __future__ import annotations

import os

import pytest

from clinical_trials_etl_spark.cdc.mirror import create_mirror, sync_mirror
from clinical_trials_etl_spark.lake.table import CommitConflict, LakeTable

FIELDS = [
    {"id": 1, "name": "url", "type": "string"},
    {"id": 2, "name": "val", "type": "string"},
]


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "url string, val string, lsn long, op string")


def _state(t, version=None):
    return {r["url"]: r["val"] for r in
            t.read(version=version).collect()}


def _make(spark, tmp_path, name="t", n_buckets=2):
    t = LakeTable.create(spark, str(tmp_path / name), FIELDS, "url",
                         n_buckets=n_buckets)
    t.merge(_batch(spark, [("u1", "a", 1, "I"), ("u2", "b", 2, "I"),
                           ("u3", "c", 3, "I")]), batch_id="e-1")
    return t


def test_branch_isolation_and_listing(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.create_branch("audit")
    assert t.branches() == {"audit": {"forked_at": 1, "head": 0}}
    b = t.branch("audit")
    assert _state(b) == _state(t)              # fork sees the base
    b.merge(_batch(spark, [("u1", "a2", 9, "U"), ("u4", "d", 10, "I")]),
            batch_id="e-2", mode="delta")
    assert t.current_version() == 1            # main untouched
    assert _state(t)["u1"] == "a"
    got = _state(b)
    assert got["u1"] == "a2" and got["u4"] == "d"
    assert t.branches()["audit"]["head"] == 1
    # branch-local time travel still works
    assert _state(b, 0) == _state(t)


def test_fast_forward_state_parity_and_exactly_once(spark, tmp_path):
    """Mixed-mode merges + compaction + schema evolution on a branch,
    squash-published — equals applying the same batches directly."""
    t = _make(spark, tmp_path, "t")
    ctl = _make(spark, tmp_path, "ctl")

    batches = [
        ([("u1", "a2", 9, "U"), ("u4", "d", 10, "I")], "e-2", "delta"),
        ([("u2", None, 11, "D"), ("u5", "e", 12, "I")], "e-3", "cow"),
        ([("u4", "d2", 13, "U")], "e-4", "delta"),
    ]
    new_fields = FIELDS + [{"id": 3, "name": "rank", "type": "long"}]

    t.create_branch("load")
    b = t.branch("load")
    for rows, bid, mode in batches:
        b.merge(_batch(spark, rows), batch_id=bid, mode=mode)
    b.compact()
    b.evolve(new_fields, note="add rank")
    head = b.current_version()

    res = t.fast_forward("load")
    assert res["commits"] == head and res["version"] == 2
    assert t.branches() == {}                  # dropped after publish

    for rows, bid, mode in batches:
        ctl.merge(_batch(spark, rows), batch_id=bid, mode=mode)
    ctl.evolve(new_fields, note="add rank")
    assert _state(t) == _state(ctl)
    assert [f["name"] for f in t.fields()] == ["url", "val", "rank"]
    assert t.history()[0]["operation"] == "fast_forward"

    # exactly-once across the seam: re-delivering a branch-applied
    # epoch to main is a metadata no-op
    before = t.current_version()
    r = t.merge(_batch(spark, [("u1", "STALE", 9, "U")]), batch_id="e-3")
    assert r["skipped"] and t.current_version() == before
    assert _state(t)["u1"] == "a2"


def test_fast_forward_is_one_feed_commit_mirrors_fold(spark, tmp_path):
    t = _make(spark, tmp_path)
    m = create_mirror(spark, t, str(tmp_path / "m"))
    sync_mirror(t, m)                          # mirror at the fork state

    t.create_branch("load")
    b = t.branch("load")
    b.merge(_batch(spark, [("u1", "a2", 9, "U"), ("u4", "d", 10, "I")]),
            batch_id="e-2", mode="delta")
    b.merge(_batch(spark, [("u3", None, 11, "D")]), batch_id="e-3",
            mode="cow")
    t.fast_forward("load")

    feed = t.changes(1, 2)
    got = {(r["url"], r["_change_type"]) for r in feed.collect()}
    assert got == {("u1", "upsert"), ("u4", "upsert"), ("u3", "delete")}
    assert feed.select("_commit_version").distinct().collect()[0][0] == 2

    r = sync_mirror(t, m)                      # folds the one ff commit
    assert not r["skipped"]
    assert ({row["url"]: row["val"] for row in m.read().collect()}
            == {row["url"]: row["val"] for row in t.read().collect()})


def test_fast_forward_ancestry_guard(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.create_branch("load")
    b = t.branch("load")
    b.merge(_batch(spark, [("u9", "x", 20, "I")]), batch_id="e-2")
    t.merge(_batch(spark, [("u8", "y", 21, "I")]), batch_id="m-2")
    with pytest.raises(CommitConflict, match="forked at v1"):
        t.fast_forward("load")
    # the branch is still intact for inspection / re-branching
    assert t.branches()["load"]["head"] == 1
    t.drop_branch("load", force=True)


def test_drop_branch_and_orphan_reclaim(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.create_branch("tmp")
    b = t.branch("tmp")
    b.merge(_batch(spark, [("u7", "z", 30, "I")]), batch_id="e-2")
    bfiles = {e["path"] for e in b.files()} - {e["path"]
                                               for e in t.files()}
    assert bfiles                              # branch wrote new files
    with pytest.raises(ValueError, match="unpublished commit"):
        t.drop_branch("tmp")
    t.drop_branch("tmp", force=True)
    assert t.branches() == {}
    with pytest.raises(ValueError, match="no such branch"):
        t.branch("tmp")
    res = t.remove_orphans(older_than_s=0.0)
    assert res["removed_files"] >= len(bfiles)
    assert all(not os.path.exists(p) for p in bfiles)
    assert _state(t)["u1"] == "a"         # main intact


def test_retention_protects_branch_files(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.create_branch("pin")                     # forked at v1
    b = t.branch("pin")
    b.merge(_batch(spark, [("u6", "w", 40, "I")]), batch_id="e-2")
    pinned = _state(b)
    # main advances; a COW merge rewrites u1's bucket
    t.merge(_batch(spark, [("u1", "a9", 50, "U")]), batch_id="m-2")
    t.merge(_batch(spark, [("u2", "b9", 51, "U")]), batch_id="m-3")
    t.expire_snapshots(keep_last=1)
    t.remove_orphans(older_than_s=0.0)
    assert _state(b) == pinned                 # branch still readable
    t.drop_branch("pin", force=True)


def test_branch_guards(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.create_branch("a")
    b = t.branch("a")
    for op in ("remove_orphans", "expire_snapshots"):
        with pytest.raises(ValueError, match="main table"):
            getattr(b, op)()
    with pytest.raises(ValueError, match="main table"):
        b.create_branch("nested")
    with pytest.raises(ValueError, match="already exists"):
        t.create_branch("a")
    with pytest.raises(ValueError, match="invalid branch name"):
        t.create_branch("../escape")
    # staged WAP on the branch blocks fast_forward until resolved
    b.merge(_batch(spark, [("u9", "q", 60, "I")]), batch_id="e-2",
            wap_id="w1")
    with pytest.raises(ValueError, match="staged WAP"):
        t.fast_forward("a")
    b.abort_staged("w1")
    t.fast_forward("a")                        # head==0 after abort:
    assert t.current_version() == 1            # no-op publish, dropped
    assert t.branches() == {}


def test_rollback_branch_publishes_feed_opaque(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.create_branch("rb")
    b = t.branch("rb")
    b.merge(_batch(spark, [("u1", "bad", 9, "U")]), batch_id="e-2")
    b.merge(_batch(spark, [("u4", "d", 10, "I")]), batch_id="e-3")
    b.rollback(0)                              # undo both merges
    b.merge(_batch(spark, [("u5", "e", 11, "I")]), batch_id="e-4")
    t.fast_forward("rb")
    # state adoption is exact regardless
    got = _state(t)
    assert got["u1"] == "a"                    # the revert held
    assert "u4" not in got and got["u5"] == "e"
    # ... but the feed is honest about not being foldable
    for fn in (t.changes, t.changes_window):
        with pytest.raises(ValueError, match="rollback"):
            fn(1, 2).collect()

    # a branch compaction that erased a delete's tombstone: no published
    # file holds the delete, so the feed must refuse rather than fold
    # to a state that still has u1
    t2 = _make(spark, tmp_path, "t2")
    t2.create_branch("gc")
    b2 = t2.branch("gc")
    b2.merge(_batch(spark, [("u1", None, 10, "D")]), batch_id="e-2")
    b2.compact(drop_tombstones_below_lsn=20)
    t2.fast_forward("gc")
    assert "u1" not in _state(t2)
    for fn in (t2.changes, t2.changes_window):
        with pytest.raises(ValueError, match="rollback"):
            fn(1, 2).collect()


def test_rebucketing_branch_feed_reads_unpruned(spark, tmp_path):
    t = _make(spark, tmp_path, n_buckets=2)
    t.create_branch("rk")
    b = t.branch("rk")
    b.merge(_batch(spark, [("u1", "a2", 9, "U"), ("u4", "d", 10, "I")]),
            batch_id="e-2")
    b.rebucket(4)
    t.fast_forward("rk")
    assert t.snapshot()["n_buckets"] == 4
    lin = t.history()[0]["detail"]
    assert lin["rebucketed"] is True
    got = {(r["url"], r["_change_type"])
           for r in t.changes(1, 2).collect()}
    assert got == {("u1", "upsert"), ("u4", "upsert")}
    gotw = {(r["url"], r["_change_type"])
            for r in t.changes_window(1, 2).collect()}
    assert gotw == got


def test_fast_forward_rebases_over_maintenance_only(spark, tmp_path):
    """The out-of-band maintenance job beside an open audit branch:
    a compaction commit on main (layout-only) does NOT invalidate the
    publish — fast_forward rebases on top of it, state equals the
    direct-apply control, and retention kept the fork-era files the
    untouched buckets re-point at. Ingest-class and schema commits on
    main still hard-conflict."""
    t = _make(spark, tmp_path, "t", n_buckets=4)
    # leave delta layers on main so its compaction has work to do
    t.merge(_batch(spark, [("u2", "b2", 5, "U")]), batch_id="e-2",
            mode="delta")
    ctl = _make(spark, tmp_path, "ctl", n_buckets=4)
    ctl.merge(_batch(spark, [("u2", "b2", 5, "U")]), batch_id="e-2",
              mode="delta")

    t.create_branch("load")
    b = t.branch("load")
    b.merge(_batch(spark, [("u1", "a2", 9, "U"), ("u4", "d", 10, "I")]),
            batch_id="e-3", mode="delta")

    # maintenance on MAIN while the branch is open (versions move)
    assert t.compact()["version"] > 2
    t.expire_snapshots(keep_last=1)     # no commit; branch files pinned
    t.remove_orphans(older_than_s=0.0)  # no commit

    res = t.fast_forward("load")
    assert res["commits"] == 1
    assert t._lineage_entry(res["version"])["rebased_over"] >= 1

    ctl.merge(_batch(spark, [("u1", "a2", 9, "U"), ("u4", "d", 10, "I")]),
              batch_id="e-3", mode="delta")
    assert _state(t) == _state(ctl)
    # the feed over the published commit still folds
    got = {(r["url"], r["_change_type"])
           for r in t.changes(res["version"] - 1, res["version"])
           .collect()}
    assert got == {("u1", "upsert"), ("u4", "upsert")}

    # ingest-class movement still conflicts
    t.create_branch("l2")
    b2 = t.branch("l2")
    b2.merge(_batch(spark, [("u9", "x", 20, "I")]), batch_id="e-9")
    t.merge(_batch(spark, [("u8", "y", 21, "I")]), batch_id="m-9")
    with pytest.raises(CommitConflict, match="merge commit"):
        t.fast_forward("l2")
    t.drop_branch("l2", force=True)

    # schema evolution on main conflicts too (would be undone)
    t.create_branch("l3")
    b3 = t.branch("l3")
    b3.merge(_batch(spark, [("u7", "w", 30, "I")]), batch_id="e-10")
    t.evolve(t.fields() + [{"id": 9, "name": "extra",
                            "type": "string"}], note="main add")
    with pytest.raises(CommitConflict, match="schema-evolution"):
        t.fast_forward("l3")
    t.drop_branch("l3", force=True)


def test_randomized_branch_publish_equivalence(spark, tmp_path):
    """Property sweep: a seeded random op sequence — mixed cow/delta
    merges with duplicate deliveries and stale lsns, branch-local
    compactions, maintenance compactions on MAIN while the branch is
    open — applied through repeated fork/ingest/fast_forward cycles
    must land on the same state as applying every batch directly, and
    downstream folds (a mirror synced only from main) must converge
    through every published seam."""
    import random

    rng = random.Random(4242)
    t = _make(spark, tmp_path, "t", n_buckets=4)
    ctl = _make(spark, tmp_path, "ctl", n_buckets=4)
    m = create_mirror(spark, t, str(tmp_path / "m"))
    sync_mirror(t, m)

    keys = [f"k{i}" for i in range(15)]
    lsn = 100
    batch_no = 0
    for cycle in range(3):
        t.create_branch("load")
        b = t.branch("load")
        for _ in range(rng.randint(1, 3)):
            rows = []
            for _ in range(rng.randint(3, 9)):
                k = rng.choice(keys)
                op = rng.choice(["I", "U", "U", "D"])
                this_lsn = lsn if rng.random() < 0.8 else max(0, lsn - 7)
                lsn += 1
                val = None if op == "D" else f"v{this_lsn}"
                rows.append((k, val, this_lsn, op))
            mode = rng.choice(["cow", "delta"])
            if mode == "delta":
                best = {}
                for k, val, l, op in rows:
                    if k not in best or (l, op == "D") > (
                            best[k][2], best[k][3] == "D"):
                        best[k] = (k, val, l, op)
                rows = list(best.values())
            batch_no += 1
            b.merge(_batch(spark, rows), batch_id=f"e-{batch_no}",
                    mode=mode)
            ctl.merge(_batch(spark, rows), batch_id=f"e-{batch_no}",
                      mode=mode)
            if rng.random() < 0.3:
                b.compact()
        if rng.random() < 0.5:
            t.compact()                 # maintenance beside the branch
        t.fast_forward("load")
        assert _state(t) == _state(ctl), f"cycle {cycle} diverged"
        sync_mirror(t, m)
        assert ({r["url"]: r["val"] for r in m.read().collect()}
                == _state(t)), f"mirror diverged at cycle {cycle}"
