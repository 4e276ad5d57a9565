"""Tags (named snapshot refs) and write-audit-publish staged commits.

Two lake-format capabilities a CDC deployment leans on:

- **Tags** (Iceberg `CREATE TAG` analog): immutable named pins on a
  snapshot that outrank ``expire_snapshots``' sliding retention window
  — the "exact table state model X trained on" stays readable until
  the tag is dropped, and ``read``/``rollback`` accept the name.
- **WAP** (Iceberg write-audit-publish analog): ``merge(wap_id=...)``
  runs the full merge but stages the resulting snapshot outside the
  commit chain; auditors read the candidate with ``read_staged``;
  ``publish_staged`` promotes it metadata-only, with an ancestry guard
  (CommitConflict if the base moved) and exactly-once across the seam
  (publishing a batch the table meanwhile applied degrades to abort).
  Staged files are protected from expire/GC until published/aborted.
"""

from __future__ import annotations

import os

import pytest

from clinical_trials_etl_spark.lake.table import CommitConflict, LakeTable

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


def _make(spark, tmp_path, name="t"):
    t = LakeTable.create(spark, str(tmp_path / name), FIELDS, "url",
                         n_buckets=2)
    t.merge(_batch(spark, [("u1", "a", 1, "I"), ("u2", "b", 2, "I")]),
            batch_id="e-1")
    return t


# ----------------------------------------------------------------- tags

def test_tag_create_resolve_read(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.tag("v1.0")
    pinned = _state(t)
    t.merge(_batch(spark, [("u1", "a2", 9, "U")]), batch_id="e-2")
    assert _state(t) != pinned
    assert _state(t, "v1.0") == pinned          # read-at-ref
    assert t.tags() == {"v1.0": 1}
    assert t.snapshot("v1.0")["version"] == 1
    tagged = [r for r in t.history() if r["tags"]]
    assert [(r["version"], r["tags"]) for r in tagged] == [(1, ["v1.0"])]
    # rollback by tag name
    t.rollback("v1.0")
    assert _state(t) == pinned


def test_tag_immutability_and_validation(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.tag("rel", version=0)
    with pytest.raises(ValueError, match="immutable"):
        t.tag("rel", version=1)
    t.delete_tag("rel")
    t.tag("rel", version=1)                     # retag after delete ok
    assert t.tags() == {"rel": 1}
    with pytest.raises(ValueError, match="no snapshot"):
        t.tag("future", version=99)
    with pytest.raises(ValueError, match="invalid tag name"):
        t.tag("../escape")
    with pytest.raises(ValueError, match="no such tag"):
        t.delete_tag("ghost")
    with pytest.raises(ValueError, match="no such tag"):
        t.read(version="ghost")


def test_tag_protects_snapshot_from_expire(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.tag("pinned")                              # pins v1
    # v2 and v3 rewrite the SAME bucket, so v2's file is exclusive to
    # it — the version retention actually has something to delete
    t.merge(_batch(spark, [("u1", "a2", 9, "U")]), batch_id="e-2")
    t.merge(_batch(spark, [("u1", "a3", 10, "U")]), batch_id="e-3")
    v2 = _state(t, 2)
    stats = t.expire_snapshots(keep_last=1)
    assert 1 in stats["kept_versions"]          # the tag outranks the window
    assert _state(t, "pinned") == {("u1", "a"), ("u2", "b")}
    # the untagged intermediate lost its exclusive files
    with pytest.raises(Exception):
        assert _state(t, 2) == v2
    # dropping the tag releases the pin on the next expire
    t.delete_tag("pinned")
    stats = t.expire_snapshots(keep_last=1)
    assert stats["kept_versions"] == [3]
    with pytest.raises(Exception):
        _state(t, 1)


# ------------------------------------------------------------------ WAP

def test_wap_stage_audit_publish(spark, tmp_path):
    t = _make(spark, tmp_path)
    batch = [("u1", "a2", 9, "U"), ("u3", "c", 10, "I")]
    s = t.merge(_batch(spark, batch), batch_id="e-2", wap_id="audit-1")
    assert s["staged"] and s["base_version"] == 1
    # the table is untouched until publish...
    assert t.current_version() == 1
    assert _state(t) == {("u1", "a"), ("u2", "b")}
    # ...but the auditor sees the candidate state
    assert {(r["url"], r["val"])
            for r in t.read_staged("audit-1").collect()} == {
        ("u1", "a2"), ("u2", "b"), ("u3", "c")}
    assert t.staged()["audit-1"]["batch_id"] == "e-2"

    # publish from a FRESH handle (the audit job and the publisher are
    # different processes) — metadata only, files already in place
    t2 = LakeTable(spark, t.root)
    out = t2.publish_staged("audit-1")
    assert out["version"] == 2 and not out["skipped"]
    assert _state(t2) == {("u1", "a2"), ("u2", "b"), ("u3", "c")}
    assert t2.staged() == {}
    assert t2.lineage()[-1]["wap_id"] == "audit-1"

    # byte-identical to the same merge committed directly
    ctl = _make(spark, tmp_path, "ctl")
    ctl.merge(_batch(spark, batch), batch_id="e-2")
    assert _state(t2) == _state(ctl)
    # exactly-once: the published batch id is in the ledger
    assert t2.merge(_batch(spark, batch), batch_id="e-2")["skipped"]


def test_wap_publish_ancestry_guard(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.merge(_batch(spark, [("u3", "c", 5, "I")]), batch_id="e-2",
            wap_id="w1")
    # main moves on while the audit runs (a DIFFERENT id namespace —
    # a later id with the staged batch's own prefix would mark it
    # applied under the in-order high-water-mark contract and publish
    # would rightly degrade to a skip instead of a conflict)
    t.merge(_batch(spark, [("u4", "d", 6, "I")]), batch_id="other-1")
    with pytest.raises(CommitConflict, match="audited against"):
        t.publish_staged("w1")
    # recovery: abort and re-stage on the new base
    t.abort_staged("w1")
    t.merge(_batch(spark, [("u3", "c", 5, "I")]), batch_id="e-2",
            wap_id="w1")
    t.publish_staged("w1")
    assert ("u3", "c") in _state(t) and ("u4", "d") in _state(t)


def test_wap_exactly_once_across_seam(spark, tmp_path):
    """The staged batch gets applied on main through the normal path
    before publish — publish must degrade to a no-op abort, not
    double-apply."""
    t = _make(spark, tmp_path)
    batch = [("u3", "c", 5, "I")]
    t.merge(_batch(spark, batch), batch_id="e-2", wap_id="w1")
    t.merge(_batch(spark, batch), batch_id="e-2")   # direct apply wins
    before = _state(t)
    out = t.publish_staged("w1")
    assert out["skipped"] and out["version"] == 2
    assert _state(t) == before
    assert t.staged() == {}


def test_wap_files_protected_until_abort(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.merge(_batch(spark, [("u3", "c", 5, "I")]), batch_id="e-2",
            wap_id="w1")
    # neither GC nor retention may eat an unpublished candidate
    assert t.remove_orphans(older_than_s=0.0)["removed_files"] == 0
    t.expire_snapshots(keep_last=1)
    assert {(r["url"], r["val"])
            for r in t.read_staged("w1").collect()} == {
        ("u1", "a"), ("u2", "b"), ("u3", "c")}
    t.publish_staged("w1")
    assert ("u3", "c") in _state(t)
    # default abort deletes the candidate's exclusive files right away
    t.merge(_batch(spark, [("u4", "d", 6, "I")]), batch_id="e-3",
            wap_id="w2")
    out = t.abort_staged("w2")
    assert out["removed_files"] > 0
    assert t.remove_orphans(older_than_s=0.0)["removed_files"] == 0
    # keep_files=True leaves forensic residue for the normal GC sweep
    t.merge(_batch(spark, [("u5", "e", 7, "I")]), batch_id="e-4",
            wap_id="w3")
    out = t.abort_staged("w3", keep_files=True)
    assert out["removed_files"] == 0
    assert t.remove_orphans(older_than_s=0.0)["removed_files"] > 0
    assert _state(t) == {("u1", "a"), ("u2", "b"), ("u3", "c")}


def test_wap_duplicate_id_and_missing_id(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.merge(_batch(spark, [("u3", "c", 5, "I")]), batch_id="e-2",
            wap_id="w1")
    with pytest.raises(ValueError, match="already has a staged"):
        t.merge(_batch(spark, [("u4", "d", 6, "I")]), batch_id="e-3",
                wap_id="w1")
    with pytest.raises(ValueError, match="no staged commit"):
        t.publish_staged("ghost")
    with pytest.raises(ValueError, match="invalid wap_id"):
        t.merge(_batch(spark, [("u4", "d", 6, "I")]), batch_id="e-3",
                wap_id="../x")
    # staging never dirtied the committed chain
    assert t.current_version() == 1
    staged = t.staged_dir + os.sep
    assert not any(
        p.startswith(staged)
        for v in range(t.current_version() + 1)
        for paths in t.snapshot(v)["manifests"].values() for p in paths)


def test_wap_id_reuse_cannot_corrupt_committed_state(spark, tmp_path):
    """Recurring wap_id (the 'nightly-audit' pattern): publish adopts
    the staged manifest into the numbered chain, so re-staging the
    same id later writes a filename NOTHING committed references —
    re-use plus abort must leave every published snapshot byte-intact
    (round-4 ADVICE high: the old deterministic staged path was
    silently overwritten by the second staging and deleted by its
    abort, corrupting committed reads)."""
    t = _make(spark, tmp_path)
    t.merge(_batch(spark, [("u3", "c", 5, "I")]), batch_id="e-2",
            wap_id="nightly-audit")
    t.publish_staged("nightly-audit")
    published = _state(t)
    v_published = t.current_version()
    # committed snapshot must not point into staged/
    assert all(
        "staged" not in p
        for paths in t.snapshot()["manifests"].values() for p in paths)

    # next night: same id, different batch — stage then ABORT
    t.merge(_batch(spark, [("u9", "z", 9, "I")]), batch_id="e-3",
            wap_id="nightly-audit")
    assert _state(t) == published        # staging changed nothing
    t.abort_staged("nightly-audit")

    # the published version still reads, lists files, and GCs cleanly
    assert _state(t, v_published) == published
    assert _state(t) == published
    assert all(os.path.exists(e["path"]) for e in t.files())
    t.remove_orphans(older_than_s=0.0)   # must not crash or eat data
    assert _state(t) == published
    # and a third staging of the same id still round-trips
    t.merge(_batch(spark, [("u4", "d", 6, "I")]), batch_id="e-3",
            wap_id="nightly-audit")
    t.publish_staged("nightly-audit")
    assert ("u4", "d") in _state(t)


def test_lineage_is_embedded_in_the_snapshot_only(spark, tmp_path):
    """Each commit's lineage entry rides inside the snapshot it links
    — committed atomically with the version, and the only copy. No
    ``_meta/lineage`` sidecar is written, while lineage(), history()
    and the change feed still see the commit."""
    t = _make(spark, tmp_path)
    t.merge(_batch(spark, [("u3", "c", 5, "I")]), batch_id="e-2")
    v = t.current_version()
    assert not os.path.exists(os.path.join(t.meta_dir, "lineage"))
    assert t.snapshot(v)["lineage"]["type"] == "merge"
    assert t._lineage_entry(v)["type"] == "merge"
    assert [e["type"] for e in t.lineage()].count("merge") == 2
    assert t.history()[0]["operation"] == "merge"
    feed = t.changes(v - 1, v)
    assert {r["url"] for r in feed.collect()} == {"u3"}
