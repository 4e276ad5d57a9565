"""Change-data-feed tests (LakeTable.changes): the incremental read
surface downstream consumers use instead of re-scanning the table.

Contract under test: folding ``changes(a, b)`` onto a copy of the
version-``a`` state (commit order, last write per key wins, 'delete'
removes) reproduces the version-``b`` state exactly — across COW and
delta commits, redeliveries, out-of-order arrivals, maintenance
commits, and schema renames. Reference analog: the reference store has
no incremental surface at all (consumers re-poll full collections,
trials_extractor/storage/mongodb_storage.py) — SURVEY.md §2.9.
"""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from clinical_trials_etl_spark.lake.table import LakeTable

FIELDS = [
    {"id": 1, "name": "url", "type": "string"},
    {"id": 2, "name": "val", "type": "string"},
]


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "url string, val string, lsn long, op string")


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """A table exercising every feed-relevant commit shape:

    v1 cow  : 3 inserts
    v2 cow  : update u1, delete u2, redeliver u3 (same lsn -> no change)
    v3 delta: insert u4 + STALE out-of-order update to u1 (lsn 5 < 10)
    v4      : compaction (no logical change)
    v5 cow  : resurrect u2, update u4
    v6      : rebucket 4 -> 8 (no logical change)
    v7 delta: delete u3
    """
    root = str(tmp_path_factory.mktemp("cdf") / "t")
    t = LakeTable.create(spark, root, FIELDS, "url", n_buckets=4)
    t.merge(_batch(spark, [("u1", "a", 1, "I"), ("u2", "b", 2, "I"),
                           ("u3", "c", 3, "I")]), batch_id="e-1")
    t.merge(_batch(spark, [("u1", "a2", 10, "U"), ("u2", None, 11, "D"),
                           ("u3", "c", 3, "I")]), batch_id="e-2")
    t.merge(_batch(spark, [("u4", "d", 20, "I"), ("u1", "stale", 5, "U")]),
            batch_id="e-3", mode="delta")
    t.compact()
    t.merge(_batch(spark, [("u2", "b2", 30, "I"), ("u4", "d2", 31, "U")]),
            batch_id="e-4")
    t.rebucket(8)
    t.merge(_batch(spark, [("u3", None, 40, "D")]),
            batch_id="e-5", mode="delta")
    return t


def _fold(rows):
    state: dict[str, str] = {}
    for r in sorted(rows, key=lambda r: r["_commit_version"]):
        if r["_change_type"] == "delete":
            state.pop(r["url"], None)
        else:
            state[r["url"]] = r["val"]
    return state


def test_fold_reproduces_final_state(table):
    folded = _fold(table.changes(0).collect())
    final = {r["url"]: r["val"] for r in table.read().collect()}
    assert folded == final
    assert final == {"u1": "a2", "u2": "b2", "u4": "d2"}


def test_fold_from_any_midpoint(table):
    cur = table.current_version()
    for start in range(cur + 1):
        state = {r["url"]: r["val"]
                 for r in table.read(version=start).collect()}
        for r in sorted(table.changes(start).collect(),
                        key=lambda r: r["_commit_version"]):
            if r["_change_type"] == "delete":
                state.pop(r["url"], None)
            else:
                state[r["url"]] = r["val"]
        assert state == {"u1": "a2", "u2": "b2", "u4": "d2"}, start


def test_per_commit_net_changes(table):
    def keyed(v):
        return {(r["url"], r["_change_type"])
                for r in table.changes(v - 1, v).collect()}

    assert keyed(1) == {("u1", "upsert"), ("u2", "upsert"),
                        ("u3", "upsert")}
    # redelivered u3 (same lsn) is NOT a change
    assert keyed(2) == {("u1", "upsert"), ("u2", "delete")}
    # stale out-of-order update to u1 lost to the base -> not a change
    assert keyed(3) == {("u4", "upsert")}
    assert keyed(4) == set()          # compaction
    assert keyed(5) == {("u2", "upsert"), ("u4", "upsert")}
    assert keyed(6) == set()          # rebucket
    assert keyed(7) == {("u3", "delete")}


def test_raw_feed_includes_losers_but_folds_under_max_lsn(table):
    net = table.changes(2, 3).collect()
    raw = table.changes(2, 3, net=False).collect()
    assert {r["url"] for r in net} == {"u4"}
    assert {r["url"] for r in raw} == {"u4", "u1"}  # the stale row rides
    # a max-lsn consumer (the documented raw-feed contract) converges
    state = {r["url"]: (r["_lsn"], r["val"])
             for r in table.read_raw().collect()
             if r["url"] in ("u1", "u4")}
    for r in raw:
        cur = state.get(r["url"])
        if cur is None or r["_lsn"] > cur[0]:
            state[r["url"]] = (r["_lsn"], r["val"])
    assert state["u1"][1] == "a2"     # stale row did not win


def test_change_rows_carry_lsn_and_version(table):
    rows = {r["url"]: r for r in table.changes(4, 5).collect()}
    assert rows["u2"]["_lsn"] == 30
    assert rows["u2"]["_commit_version"] == 5
    assert rows["u4"]["_lsn"] == 31


def test_empty_and_invalid_ranges(table):
    assert table.changes(3, 3).count() == 0
    cur = table.current_version()
    assert table.changes(cur).count() == 0
    with pytest.raises(ValueError):
        table.changes(5, 2)
    with pytest.raises(ValueError):
        table.changes(0, cur + 1)
    # empty result still has the full feed schema
    cols = table.changes(3, 3).columns
    assert cols == ["url", "val", "_lsn", "_change_type",
                    "_commit_version"]


def test_pre_state_diff_scan_is_column_pruned(spark, tmp_path):
    """The COW diff reads the pre-state slim: only the key's physical
    column + system cols cross the parquet scan — a change feed over a
    table of html blobs must never re-read the blobs of the pre-image."""
    fields = FIELDS + [{"id": 3, "name": "html", "type": "binary"}]
    t = LakeTable.create(spark, str(tmp_path / "t"), fields, "url",
                         n_buckets=2)

    def b(rows):
        return spark.createDataFrame(
            rows, "url string, val string, html binary, lsn long, op string")

    t.merge(b([("u1", "a", b"x" * 64, 1, "I"),
               ("u2", "b", b"y" * 64, 2, "I")]), batch_id="e-1")
    t.merge(b([("u1", "a2", b"z" * 64, 9, "U")]), batch_id="e-2")

    plan = (t.changes(1, 2)._jdf.queryExecution().executedPlan().toString())
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas
    slim = [s for s in schemas if "f_3" not in s and "f_2" not in s]
    assert slim, f"no slim pre-state scan in plan: {schemas}"
    for s in slim:
        assert "f_1:string" in s


def test_rename_mid_range_feed_uses_current_names(spark, tmp_path):
    """Schema rename between commits: the feed projects every commit's
    rows to the to_version schema by field-id, so pre-rename rows come
    back under the new column name."""
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=2)
    t.merge(_batch(spark, [("u1", "a", 1, "I")]), batch_id="e-1")
    t.evolve([{"id": 1, "name": "url", "type": "string"},
              {"id": 2, "name": "value", "type": "string"}],
             note="rename val->value")
    src = spark.createDataFrame(
        [("u2", "b", 2, "I")], "url string, value string, lsn long, op string")
    t.merge(src, batch_id="e-2")

    ch = t.changes(0)
    assert "value" in ch.columns and "val" not in ch.columns
    rows = {r["url"]: r["value"] for r in ch.collect()
            if r["_change_type"] == "upsert"}
    assert rows == {"u1": "a", "u2": "b"}


def test_chained_incremental_pipeline(spark, tmp_path):
    """The consumer story: a downstream per-val count table maintained
    purely from the feed (polling changes(last_seen, cur) after each
    upstream commit) matches a full recompute from read() — reading
    O(changes) per poll, never the upstream table."""
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=4)
    batches = [
        [("u%d" % i, "g%d" % (i % 3), i, "I") for i in range(1, 21)],
        [("u1", "g0", 100, "U"), ("u2", None, 101, "D")],
        [("u3", "g1", 200, "U"), ("u21", "g2", 201, "I")],
    ]
    downstream: dict[str, str] = {}   # url -> val (the consumer's mirror)
    last_seen = 0
    for i, rows in enumerate(batches):
        t.merge(_batch(spark, rows), batch_id=f"e-{i}",
                mode="delta" if i == 1 else "cow")
        cur = t.current_version()
        for r in t.changes(last_seen, cur).collect():
            if r["_change_type"] == "delete":
                downstream.pop(r["url"], None)
            else:
                downstream[r["url"]] = r["val"]
        last_seen = cur
    got = {}
    for v in downstream.values():
        got[v] = got.get(v, 0) + 1
    exp = {r["val"]: r["n"] for r in
           t.read().groupBy("val").agg(F.count("*").alias("n")).collect()}
    assert got == exp


def test_expired_range_raises_cleanly(spark, tmp_path):
    """After expire_snapshots, a feed window reaching into the expired
    region fails driver-side with a clear error (not a mid-job
    file-not-found on an executor); windows inside the retained window
    keep working."""
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=2)
    for i in range(5):
        t.merge(_batch(spark, [("u%d" % i, "v%d" % i, i + 1, "I")]),
                batch_id=f"e-{i}")
    cur = t.current_version()
    t.expire_snapshots(keep_last=2)
    # v4..v5 still readable (COW rewrites carry the whole bucket)
    assert t.changes(cur - 1, cur).count() >= 0
    with pytest.raises(ValueError, match="expire_snapshots"):
        # v1's commit files are gone: u0 landed in a bucket that later
        # commits rewrote, so its original file was expired
        t.changes(0, cur).collect()


def test_randomized_fold_equivalence(spark, tmp_path):
    """Property check over a seeded random op sequence: duplicate
    deliveries, out-of-order lsns, deletes, alternating cow/delta
    commits and interleaved compactions — the feed folded from ANY
    start version must reproduce the final state."""
    import random

    rng = random.Random(1234)
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=4)
    keys = [f"k{i}" for i in range(12)]
    lsn = 0
    oracle: dict[str, tuple[int, bool, str]] = {}  # key -> (lsn, del, val)
    for i in range(8):
        rows = []
        for _ in range(rng.randint(3, 10)):
            k = rng.choice(keys)
            op = rng.choice(["I", "U", "U", "D"])
            # out-of-order: sometimes reuse a stale lsn
            this_lsn = lsn if rng.random() < 0.8 else max(0, lsn - 5)
            lsn += 1
            val = None if op == "D" else f"v{this_lsn}"
            rows.append((k, val, this_lsn, op))
            cur = oracle.get(k)
            cand = (this_lsn, op == "D")
            if cur is None or cand > (cur[0], cur[1]):
                oracle[k] = (this_lsn, op == "D", val)
        # both modes take the raw rows: merge picks per-key winners
        mode = "delta" if i % 2 else "cow"
        t.merge(_batch(spark, rows), batch_id=f"e-{i}", mode=mode)
        if i in (3, 6):
            t.compact()

    expected = {k: v[2] for k, v in oracle.items() if not v[1]}
    assert {r["url"]: r["val"] for r in t.read().collect()} == expected
    cur = t.current_version()
    for start in range(0, cur + 1, 3):
        state = {r["url"]: r["val"]
                 for r in t.read(version=start).collect()}
        for r in sorted(t.changes(start).collect(),
                        key=lambda r: r["_commit_version"]):
            if r["_change_type"] == "delete":
                state.pop(r["url"], None)
            else:
                state[r["url"]] = r["val"]
        assert state == expected, f"fold from v{start} diverged"
        state = {r["url"]: r["val"]
                 for r in t.read(version=start).collect()}
        for r in t.changes_window(start).collect():
            if r["_change_type"] == "delete":
                state.pop(r["url"], None)
            else:
                state[r["url"]] = r["val"]
        assert state == expected, f"window fold from v{start} diverged"


# ---------------------------------------------------------- pre-images


SIGN = {"insert": 1, "update_postimage": 1,
        "update_preimage": -1, "delete": -1}


def test_pre_image_feed_exact_rows(table):
    """Delta-CDF image semantics over every commit shape the module
    fixture exercises: update -> pre+post pair, delete -> one row with
    the OLD values, resurrect-after-delete -> insert (no live
    pre-state), stale/redelivered/maintenance commits -> nothing."""
    rows = {(r["_commit_version"], r["url"], r["_change_type"],
             r["val"], r["_lsn"])
            for r in table.changes(0, pre_images=True).collect()}
    assert rows == {
        (1, "u1", "insert", "a", 1),
        (1, "u2", "insert", "b", 2),
        (1, "u3", "insert", "c", 3),
        (2, "u1", "update_preimage", "a", 1),
        (2, "u1", "update_postimage", "a2", 10),
        (2, "u2", "delete", "b", 2),          # old values, pre lsn
        (3, "u4", "insert", "d", 20),         # stale u1 row loses
        (5, "u2", "insert", "b2", 30),        # resurrect = insert
        (5, "u4", "update_preimage", "d", 20),
        (5, "u4", "update_postimage", "d2", 31),
        (7, "u3", "delete", "c", 3),
    }


def test_pre_images_telescope_across_any_window(table):
    """Signed contributions over ANY [a, b] window equal the liveness
    delta between the endpoint snapshots — the invariant incremental
    aggregate maintenance (cdc/ivm.py) is built on. Holds because each
    commit's pre-image equals the previous commit's post-image."""
    cur = table.current_version()
    live = {v: {r["url"] for r in table.read(version=v).collect()}
            for v in range(cur + 1)}
    for a in range(cur):
        for b in range(a + 1, cur + 1):
            live_a, live_b = live[a], live[b]
            net: dict[str, int] = {}
            for r in table.changes(a, b, pre_images=True).collect():
                u = r["url"]
                net[u] = net.get(u, 0) + SIGN[r["_change_type"]]
            for u in set(net) | live_a | live_b:
                expected = int(u in live_b) - int(u in live_a)
                assert net.get(u, 0) == expected, (a, b, u)


def test_pre_images_require_net_feed(table):
    with pytest.raises(ValueError, match="pre_images"):
        table.changes(0, net=False, pre_images=True)


def test_pre_image_feed_column_pruned(spark, tmp_path):
    """With pre_images the pre-state read is wide by necessity, but a
    columns=[...] projection must still prune BOTH sides of the diff
    at the scan: maintaining a count over a table of html blobs must
    never move the blobs."""
    fields = FIELDS + [{"id": 3, "name": "html", "type": "binary"}]
    t = LakeTable.create(spark, str(tmp_path / "t"), fields, "url",
                         n_buckets=2)

    def b(rows):
        return spark.createDataFrame(
            rows,
            "url string, val string, html binary, lsn long, op string")

    t.merge(b([("u1", "a", b"x" * 64, 1, "I")]), batch_id="e-1")
    t.merge(b([("u1", "a2", b"z" * 64, 9, "U")]), batch_id="e-2")

    feed = t.changes(1, 2, pre_images=True, columns=["val"])
    assert set(feed.columns) == {"url", "val", "_lsn", "_change_type",
                                 "_commit_version"}
    plan = feed._jdf.queryExecution().executedPlan().toString()
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas
    for s in schemas:
        assert "f_3" not in s, f"html column crossed a scan: {s}"


def test_window_feed_fold_and_signed_equivalence(table):
    """changes_window: the window diff must (a) fold a version-``a``
    state copy to the version-``b`` state for EVERY window, (b) carry
    signed pre/post contributions identical to the telescoped
    per-commit feed — while never materializing intermediate images
    (a key's churn inside the window emits at most one pre/post pair)
    — and (c) over a one-commit window, equal ``changes()`` row for
    row, net and with pre-images."""
    cur = table.current_version()
    states = {v: {r["url"]: r["val"]
                  for r in table.read(version=v).collect()}
              for v in range(cur + 1)}
    for a in range(cur):
        for b in range(a + 1, cur + 1):
            state = dict(states[a])
            win = table.changes_window(a, b).collect()
            for r in win:
                if r["_change_type"] == "delete":
                    state.pop(r["url"], None)
                else:
                    state[r["url"]] = r["val"]
            assert state == states[b], (a, b)
            # at most one net row per key, all stamped to_version
            urls = [r["url"] for r in win]
            assert len(urls) == len(set(urls)), (a, b)
            assert all(r["_commit_version"] == b for r in win), (a, b)

            # signed pre/post equivalence vs the per-commit feed
            win_pre = table.changes_window(a, b, pre_images=True).collect()
            per_pre = table.changes(a, b, pre_images=True).collect()
            net: dict[str, int] = {}
            for r in win_pre:
                u = r["url"]
                net[u] = net.get(u, 0) + SIGN[r["_change_type"]]
            per: dict[str, int] = {}
            for r in per_pre:
                u = r["url"]
                per[u] = per.get(u, 0) + SIGN[r["_change_type"]]
            for u in set(net) | set(per):
                assert net.get(u, 0) == per.get(u, 0), (a, b, u)

            if b == a + 1:
                # one commit: the window IS the per-commit diff
                assert Counter(win) == Counter(
                    table.changes(a, b).collect()), b
                assert Counter(win_pre) == Counter(per_pre), b


@pytest.mark.parametrize("mode", ["cow", "delta"])
def test_window_feed_keeps_delete_of_erased_tombstone(spark, tmp_path,
                                                      mode):
    """A tombstone that a compaction inside the window erases
    (``drop_tombstones_below_lsn``) still reaches the window feed as
    the delete it was: folding the feed onto the start state gives the
    end state — also once a later COW merge has rewritten the bucket
    without it."""
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=2)
    t.merge(_batch(spark, [(f"u{i}", f"v{i}", i + 1, "I")
                           for i in range(4)]), batch_id="e-1")
    v0 = t.current_version()
    t.merge(_batch(spark, [("u0", None, 10, "D")]), batch_id="e-2",
            mode=mode)
    t.merge(_batch(spark, [("u1", "v1b", 11, "U")]), batch_id="e-3",
            mode=mode)
    t.compact(drop_tombstones_below_lsn=20)

    def folded():
        state = {r["url"]: r["val"] for r in t.read(version=v0).collect()}
        for r in t.changes_window(v0).collect():
            if r["_change_type"] == "delete":
                state.pop(r["url"], None)
            else:
                state[r["url"]] = r["val"]
        return state

    state = folded()
    assert state == {r["url"]: r["val"] for r in t.read().collect()}
    assert state == {"u1": "v1b", "u2": "v2", "u3": "v3"}
    t.merge(_batch(spark, [(f"u{i}", f"w{i}", 20 + i, "U")
                           for i in range(1, 4)]), batch_id="e-4",
            mode="cow")
    assert t.snapshot()["lineage"]["touched_buckets"] == [0, 1]
    assert folded() == {"u1": "w1", "u2": "w2", "u3": "w3"}


def test_window_feed_guards_match_per_commit(table):
    with pytest.raises(ValueError, match="invalid change range"):
        table.changes_window(3, 1)


def test_window_feed_rollback_fails_fast(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=2)
    t.merge(_batch(spark, [("u1", "a", 1, "I")]), batch_id="e-1")
    t.merge(_batch(spark, [("u1", "b", 2, "U")]), batch_id="e-2")
    t.rollback(1)
    with pytest.raises(ValueError, match="rollback"):
        t.changes_window(0, t.current_version())


def test_window_feed_column_pruned(spark, tmp_path):
    """Both sides of the window diff — the window commits' own files
    and the pre-state's touched buckets — must prune to columns=[...]
    at the scan: a count maintained over html blobs never moves the
    blobs even when the window spans several commits."""
    fields = FIELDS + [{"id": 3, "name": "html", "type": "binary"}]
    t = LakeTable.create(spark, str(tmp_path / "t"), fields, "url",
                         n_buckets=2)

    def b(rows):
        return spark.createDataFrame(
            rows,
            "url string, val string, html binary, lsn long, op string")

    t.merge(b([("u1", "a", b"x" * 64, 1, "I")]), batch_id="e-1")
    t.merge(b([("u1", "a2", b"z" * 64, 9, "U"),
               ("u2", "b", b"y" * 64, 10, "I")]), batch_id="e-2")
    t.merge(b([("u2", None, None, 20, "D")]), batch_id="e-3",
            mode="delta")

    feed = t.changes_window(0, 3, pre_images=True, columns=["val"])
    assert set(feed.columns) == {"url", "val", "_lsn", "_change_type",
                                 "_commit_version"}
    plan = feed._jdf.queryExecution().executedPlan().toString()
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas
    for s in schemas:
        assert "f_3" not in s, f"html column crossed a scan: {s}"
    assert "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------------ Debezium envelopes


def test_envelope_ops_and_images(table):
    """changes_envelope: one envelope per (key, commit) with Debezium
    op codes and before/after images matching the feed's pre/post
    rows — across COW, delta, redelivery-no-op, stale-update-no-op,
    tombstone-resurrection and maintenance commits."""
    from clinical_trials_etl_spark.cdc.envelope import changes_envelope

    rows = changes_envelope(table, 0).collect()
    got = {(r["source"]["version"], (r["before"] or r["after"])["url"]):
           r for r in rows}
    assert len(rows) == len(got) == 9

    # v1: three creates
    for u, val, lsn in [("u1", "a", 1), ("u2", "b", 2), ("u3", "c", 3)]:
        e = got[(1, u)]
        assert e["op"] == "c" and e["before"] is None
        assert e["after"]["val"] == val and e["source"]["lsn"] == lsn

    # v2: update u1 (both images), delete u2 (before only, pre lsn),
    # redelivered u3 emits nothing
    e = got[(2, "u1")]
    assert e["op"] == "u"
    assert e["before"]["val"] == "a" and e["after"]["val"] == "a2"
    assert e["source"]["lsn"] == 10
    e = got[(2, "u2")]
    assert e["op"] == "d" and e["after"] is None
    assert e["before"]["val"] == "b" and e["source"]["lsn"] == 2
    assert (2, "u3") not in got

    # v3 delta: create u4; the stale u1 update (lsn 5 < 10) is silent
    assert got[(3, "u4")]["op"] == "c"
    assert (3, "u1") not in got

    # v5: u2 resurrects as a CREATE (pre-state winner is a tombstone,
    # not a live row); u4 updates
    assert got[(5, "u2")]["op"] == "c"
    assert got[(5, "u2")]["before"] is None
    e = got[(5, "u4")]
    assert e["op"] == "u" and e["before"]["val"] == "d"
    assert e["after"]["val"] == "d2"

    # v7 delta: delete u3
    e = got[(7, "u3")]
    assert e["op"] == "d" and e["before"]["val"] == "c"

    # maintenance commits (v4 compaction, v6 rebucket) emit nothing
    assert not [k for k in got if k[0] in (4, 6)]

    # a Debezium consumer folding the envelopes in commit order lands
    # on the final table state
    state: dict[str, str] = {}
    for r in sorted(rows, key=lambda r: r["source"]["version"]):
        k = (r["before"] or r["after"])["url"]
        if r["op"] == "d":
            state.pop(k, None)
        else:
            state[k] = r["after"]["val"]
    assert state == {r["url"]: r["val"] for r in table.read().collect()}


def test_envelope_jsonl_export_round_trip(table, tmp_path):
    """export_changes_envelope writes executor-side JSON Lines any
    Debezium-speaking consumer can parse: one object per line with
    before/after/op/ts_ms/source, ts_ms = the commit's wall-clock."""
    import glob
    import json as _json

    from clinical_trials_etl_spark.cdc.envelope import (
        export_changes_envelope,
    )

    out = str(tmp_path / "envelopes")
    res = export_changes_envelope(table, out, 0)
    assert res["to_version"] == table.current_version()

    objs = []
    for part in glob.glob(out + "/part-*"):
        with open(part) as f:
            objs += [_json.loads(line) for line in f if line.strip()]
    assert len(objs) == 9
    for o in objs:
        assert o["op"] in ("c", "u", "d")
        assert ("before" in o) or ("after" in o)  # JSON omits nulls
        v = o["source"]["version"]
        want_ms = int(table.snapshot(v)["committed_at"] * 1000)
        assert o["ts_ms"] == want_ms
        assert o["source"]["table"] == table.root
    # window export for an incremental poller: versions (5, 7] only
    res2 = export_changes_envelope(table, str(tmp_path / "w"), 5)
    objs2 = []
    for part in glob.glob(str(tmp_path / "w") + "/part-*"):
        with open(part) as f:
            objs2 += [_json.loads(line) for line in f if line.strip()]
    assert {o["source"]["version"] for o in objs2} == {7}


def test_apply_envelopes_replicates_across_sites(spark, tmp_path):
    """The consumer half of the publish protocol: a replica built from
    NOTHING but the published window directories converges to the
    source's live-row state, window by window, with the applied
    offset carried as the replica's own batch ledger (re-applying is
    a metadata no-op)."""
    from clinical_trials_etl_spark.cdc.envelope import (
        apply_envelopes,
        publish_envelope_window,
    )

    src = LakeTable.create(spark, str(tmp_path / "src"), FIELDS, "url",
                           n_buckets=4)
    env = str(tmp_path / "env")

    def live(t):
        return {(r["url"], r["val"]) for r in t.read().collect()}

    src.merge(_batch(spark, [("u1", "a", 1, "I"), ("u2", "b", 2, "I"),
                             ("u3", "c", 3, "I")]), batch_id="e-1")
    publish_envelope_window(src, env)
    src.merge(_batch(spark, [("u1", "a2", 10, "U"), ("u2", None, 11, "D")]),
              batch_id="e-2")
    src.merge(_batch(spark, [("u4", "d", 20, "I")]),
              batch_id="e-3", mode="delta")
    publish_envelope_window(src, env)
    src.compact()
    src.merge(_batch(spark, [("u2", "b2", 30, "I"), ("u4", "d2", 31, "U")]),
              batch_id="e-4")
    publish_envelope_window(src, env)

    rep = LakeTable.create(spark, str(tmp_path / "rep"), FIELDS, "url",
                           n_buckets=4)
    res = apply_envelopes(rep, env)
    assert res["windows_applied"] == 3
    assert live(rep) == live(src)

    # re-apply: pure metadata no-op (ledger-skipped), nothing moves
    v = rep.current_version()
    res2 = apply_envelopes(rep, env)
    assert res2["windows_applied"] == 0
    assert rep.current_version() == v

    # the feed keeps flowing: another source commit, another window,
    # the replica catches up incrementally (including a delete whose
    # envelope carries the pre-image LSN — tombstone wins its tie)
    src.merge(_batch(spark, [("u3", None, 40, "D")]),
              batch_id="e-5", mode="delta")
    publish_envelope_window(src, env)
    res3 = apply_envelopes(rep, env)
    assert res3["windows_applied"] == 1
    assert live(rep) == live(src)
    assert ("u3", "c") not in live(rep)


def test_envelope_stream_tails_topic_to_convergence(spark, tmp_path):
    """The Structured-Streaming twin of apply_envelopes: a checkpointed
    file source tails the window directories; every micro-batch merges
    through the keyed max-(lsn, deleted) rule, so row-granular
    at-least-once delivery (interleaved windows, re-published spans)
    still converges the replica to the source's live state. Resuming
    after new windows appear picks up ONLY the new files; re-running
    with nothing new is a no-op."""
    from clinical_trials_etl_spark.cdc.envelope import (
        publish_envelope_window,
        run_envelope_stream,
    )

    src = LakeTable.create(spark, str(tmp_path / "src"), FIELDS, "url",
                           n_buckets=4)
    env = str(tmp_path / "env")
    ckpt = str(tmp_path / "ckpt")

    def live(t):
        return {(r["url"], r["val"]) for r in t.read().collect()}

    src.merge(_batch(spark, [("u1", "a", 1, "I"), ("u2", "b", 2, "I"),
                             ("u3", "c", 3, "I")]), batch_id="e-1")
    publish_envelope_window(src, env)
    src.merge(_batch(spark, [("u1", "a2", 10, "U"),
                             ("u2", None, 11, "D")]), batch_id="e-2")
    publish_envelope_window(src, env)

    rep = LakeTable.create(spark, str(tmp_path / "rep"), FIELDS, "url",
                           n_buckets=4)
    res = run_envelope_stream(spark, env, rep, ckpt,
                              max_files_per_trigger=2)
    assert res["epochs"] >= 1
    assert live(rep) == live(src)

    # no new windows: the resumed stream commits nothing
    v = rep.current_version()
    res2 = run_envelope_stream(spark, env, rep, ckpt)
    assert res2["epochs"] == 0 and rep.current_version() == v

    # new windows (including a delete) stream in incrementally off the
    # same checkpoint
    src.merge(_batch(spark, [("u4", "d", 20, "I")]), batch_id="e-3",
              mode="delta")
    publish_envelope_window(src, env)
    src.merge(_batch(spark, [("u3", None, 40, "D")]), batch_id="e-4")
    publish_envelope_window(src, env)
    res3 = run_envelope_stream(spark, env, rep, ckpt)
    assert res3["epochs"] >= 1
    assert live(rep) == live(src)
    assert ("u3", "c") not in live(rep)


def test_apply_envelopes_evolves_replica_mid_topic(spark, tmp_path):
    """Long-lived topics outlive schema versions: windows are parsed
    at the schema they were PUBLISHED at (source.schema_ver), the
    replica auto-evolves forward through the registry, and payloads
    project onto current columns by field id — so a replica created at
    v1 converges across a topic spanning the full v1->v4 ramp
    (renames, adds, widens) with no manual evolution step."""
    from clinical_trials_etl_spark.cdc.envelope import (
        apply_envelopes,
        publish_envelope_window,
    )
    from clinical_trials_etl_spark.cdc.replay import (
        create_pages_table,
        replay,
    )
    from clinical_trials_etl_spark.datagen.changelog import (
        LogSpec,
        write_changelog_segments,
    )

    env = str(tmp_path / "env")
    log1 = str(tmp_path / "log1")
    write_changelog_segments(
        spark, LogSpec(n_events=600, n_hosts=10, paths_per_host=30,
                       seed=3, n_schema_versions=1), log1, n_segments=2)
    src = replay(spark, log1, str(tmp_path / "src"))
    assert src.registry_version() == 1
    publish_envelope_window(src, env)          # stamped schema_ver 1

    log2 = str(tmp_path / "log2")
    write_changelog_segments(
        spark, LogSpec(n_events=600, n_hosts=10, paths_per_host=30,
                       seed=5, n_schema_versions=4, lsn_offset=2400),
        log2, n_segments=2)
    replay(spark, log2, str(tmp_path / "src"), batch_prefix="upd")
    assert src.registry_version() == 4
    publish_envelope_window(src, env)          # stamped schema_ver 4

    rep = create_pages_table(spark, str(tmp_path / "rep"), n_buckets=8)
    assert rep.registry_version() == 1
    res = apply_envelopes(rep, env)
    assert res["windows_applied"] == 2
    assert rep.registry_version() == 4         # auto-evolved
    cols = sorted(f["name"] for f in src.fields())
    assert sorted(f["name"] for f in rep.fields()) == cols

    def live(t):
        return {r["url"]: tuple(r[c] for c in cols)
                for r in t.read().collect()}

    assert live(rep) == live(src)


def test_envelope_stream_evolves_forward_and_refuses_lossy_past(
    spark, tmp_path
):
    """The streaming consumer's schema contract: an epoch AHEAD of the
    replica evolves it and restarts (re-parsed losslessly); a window
    BEHIND the replica across a rename refuses with a pointer to the
    per-window poller instead of silently nulling the renamed column."""
    import pytest

    from clinical_trials_etl_spark.cdc.envelope import (
        _evolve_to_ver,
        publish_envelope_window,
        run_envelope_stream,
    )
    from clinical_trials_etl_spark.cdc.replay import (
        create_pages_table,
        replay,
    )
    from clinical_trials_etl_spark.datagen.changelog import (
        LogSpec,
        write_changelog_segments,
    )

    env = str(tmp_path / "env")
    log1 = str(tmp_path / "log1")
    write_changelog_segments(
        spark, LogSpec(n_events=600, n_hosts=10, paths_per_host=30,
                       seed=3, n_schema_versions=1), log1, n_segments=2)
    src = replay(spark, log1, str(tmp_path / "src"))
    publish_envelope_window(src, env)          # v1 window

    rep = create_pages_table(spark, str(tmp_path / "rep"), n_buckets=8)
    ckpt = str(tmp_path / "ckpt")
    run_envelope_stream(spark, env, rep, ckpt)  # v1 topic, v1 replica

    log2 = str(tmp_path / "log2")
    write_changelog_segments(
        spark, LogSpec(n_events=600, n_hosts=10, paths_per_host=30,
                       seed=5, n_schema_versions=4, lsn_offset=2400),
        log2, n_segments=2)
    replay(spark, log2, str(tmp_path / "src"), batch_prefix="upd")
    publish_envelope_window(src, env)          # v4 window

    # ahead: evolve + restart + converge, same checkpoint
    res = run_envelope_stream(spark, env, rep, ckpt)
    assert res["epochs"] >= 1
    assert rep.registry_version() == 4
    cols = sorted(f["name"] for f in src.fields())

    def live(t):
        return {r["url"]: tuple(r[c] for c in cols)
                for r in t.read().collect()}

    assert live(rep) == live(src)

    # behind across a rename: a FRESH v4 replica streaming the topic
    # from scratch hits the v1 window and must refuse, not null it
    rep2 = create_pages_table(spark, str(tmp_path / "rep2"), n_buckets=8)
    _evolve_to_ver(rep2, 4, None)
    with pytest.raises(Exception, match="apply_envelopes"):
        run_envelope_stream(spark, env, rep2, str(tmp_path / "ckpt2"),
                            max_files_per_trigger=100)


def test_expire_envelope_windows_topic_retention(spark, tmp_path):
    """Topic retention sweeps only the complete prefix at or below the
    consumer low-water mark; the high-water offset and every newer
    window survive, and a caught-up consumer is unaffected."""
    from clinical_trials_etl_spark.cdc.envelope import (
        apply_envelopes,
        expire_envelope_windows,
        last_published,
        publish_envelope_window,
    )

    src = LakeTable.create(spark, str(tmp_path / "src"), FIELDS, "url",
                           n_buckets=4)
    env = str(tmp_path / "env")
    for i, rows in enumerate([[("u1", "a", 1, "I")],
                              [("u2", "b", 2, "I")],
                              [("u1", "a2", 10, "U")]]):
        src.merge(_batch(spark, rows), batch_id=f"e-{i}")
        publish_envelope_window(src, env)
    hwm = last_published(env)

    # replica caught up through window 2; retention to its low-water
    rep = LakeTable.create(spark, str(tmp_path / "rep"), FIELDS, "url",
                           n_buckets=4)
    applied = apply_envelopes(rep, env)
    res = expire_envelope_windows(env, keep_after_version=2)
    assert res["removed_windows"] == 2 and res["kept_windows"] == 1
    assert last_published(env) == hwm          # offset preserved
    # caught-up consumer: re-apply is still a clean no-op
    res2 = apply_envelopes(rep, env)
    assert res2["windows_applied"] == 0
    assert applied["replica_version"] == rep.current_version()
    assert ({(r["url"], r["val"]) for r in rep.read().collect()}
            == {(r["url"], r["val"]) for r in src.read().collect()})


def test_envelope_consumers_quarantine_malformed_lines(spark, tmp_path):
    """Dead-letter path: unparseable JSON and semantically broken
    envelopes (no op / no lsn / null key in both images) are counted
    and quarantined instead of failing the window or merging null-key
    rows; both consumers still converge on the valid lines."""
    import json as _json
    import os as _os

    from clinical_trials_etl_spark.cdc.envelope import (
        apply_envelopes,
        publish_envelope_window,
        run_envelope_stream,
    )

    src = LakeTable.create(spark, str(tmp_path / "src"), FIELDS, "url",
                           n_buckets=4)
    env = str(tmp_path / "env")
    src.merge(_batch(spark, [("u1", "a", 1, "I"), ("u2", "b", 2, "I")]),
              batch_id="e-1")
    publish_envelope_window(src, env)
    wdir = next(d for d in _os.listdir(env) if d.startswith("window-"))
    # a topic file gone bad: one truncated line, one op-less envelope,
    # one null-key envelope, one good late-arriving line
    good = {"before": None, "after": {"url": "u9", "val": "z"},
            "op": "c", "ts_ms": 1,
            "source": {"table": "t", "lsn": 9, "version": 1,
                       "schema_ver": 1}}
    no_op = {**good, "op": None,
             "after": {"url": "u8", "val": "y"}}
    null_key = {**good, "after": {"url": None, "val": "x"}}
    with open(_os.path.join(env, wdir, "part-zz-corrupt.json"), "w") as f:
        f.write('{"before": TRUNCATED GARB\n')
        f.write(_json.dumps(no_op) + "\n")
        f.write(_json.dumps(null_key) + "\n")
        f.write(_json.dumps(good) + "\n")

    q = str(tmp_path / "quarantine")
    rep = LakeTable.create(spark, str(tmp_path / "rep"), FIELDS, "url",
                           n_buckets=4)
    res = apply_envelopes(rep, env, quarantine_dir=q)
    assert res["quarantined"] == 3
    got = {(r["url"], r["val"]) for r in rep.read().collect()}
    assert got == {("u1", "a"), ("u2", "b"), ("u9", "z")}
    # raw lines preserved for forensics
    qrows = spark.read.text(_os.path.join(q, wdir)).count()
    assert qrows >= 1

    # streaming consumer: same split, same convergence
    rep2 = LakeTable.create(spark, str(tmp_path / "rep2"), FIELDS,
                            "url", n_buckets=4)
    res2 = run_envelope_stream(spark, env, rep2,
                               str(tmp_path / "ckpt"),
                               quarantine_dir=str(tmp_path / "q2"))
    assert res2["quarantined"] == 3
    assert ({(r["url"], r["val"]) for r in rep2.read().collect()}
            == got)


def test_replica_bootstrap_then_tail_after_retention(spark, tmp_path):
    """The log-compacted-topic contract end-to-end: retention sweeps
    the window prefix, a NEW replica site bootstraps from the exported
    winner rows (tombstones included) and resumes consumption exactly
    at the export version — skipping swept history it never saw,
    folding only newer windows — and converges. Overlapping retained
    windows re-read idempotently (prefix-only retention makes that
    safe), and re-running the bootstrap is a ledger no-op."""
    from clinical_trials_etl_spark.cdc.envelope import (
        apply_envelopes,
        bootstrap_replica,
        export_replica_bootstrap,
        expire_envelope_windows,
        publish_envelope_window,
        run_envelope_stream,
    )

    src = LakeTable.create(spark, str(tmp_path / "src"), FIELDS, "url",
                           n_buckets=4)
    env = str(tmp_path / "env")
    src.merge(_batch(spark, [("u1", "a", 1, "I"), ("u2", "b", 2, "I"),
                             ("u3", "c", 3, "I")]), batch_id="e-1")
    publish_envelope_window(src, env)
    src.merge(_batch(spark, [("u2", None, 10, "D"),
                             ("u1", "a2", 11, "U")]), batch_id="e-2")
    publish_envelope_window(src, env)

    # cut the bootstrap at v2 (u2 is a tombstone here), then sweep the
    # prefix the new site will never see
    boot = str(tmp_path / "boot")
    man = export_replica_bootstrap(src, boot)
    assert man["version"] == 2
    expire_envelope_windows(env, keep_after_version=1)

    # source moves on: u4 insert, and a LATE stale event for deleted
    # u2 (lsn 5 < its tombstone's 10) that must NOT resurrect it
    src.merge(_batch(spark, [("u4", "d", 20, "I"),
                             ("u2", "late", 5, "U")]), batch_id="e-3")
    publish_envelope_window(src, env)

    def live(t):
        return {(r["url"], r["val"]) for r in t.read().collect()}

    rep = bootstrap_replica(spark, boot, str(tmp_path / "rep"))
    assert live(rep) == {("u1", "a2"), ("u3", "c")}   # v2 state
    res = apply_envelopes(rep, env)
    assert res["windows_applied"] == 1                # only window 3
    assert live(rep) == live(src)
    assert ("u2", "late") not in live(rep)            # tombstone held

    # re-running the bootstrap after consumption: ledger no-op
    v = rep.current_version()
    bootstrap_replica(spark, boot, str(tmp_path / "rep"))
    assert rep.current_version() == v

    # streaming consumer from the same bootstrap converges too
    rep2 = bootstrap_replica(spark, boot, str(tmp_path / "rep2"))
    run_envelope_stream(spark, env, rep2, str(tmp_path / "ckpt"))
    assert live(rep2) == live(src)


def test_envelope_stream_kill_resume_worst_case_window(spark, tmp_path):
    """Replica-stream exactly-once under the worst-case crash: the
    injected failure lands AFTER the replica's lake commit but BEFORE
    the epoch's offsets checkpoint. The resumed stream re-delivers the
    epoch, the replica's own batch ledger no-ops it, and consumption
    continues to convergence — no duplicates, no gaps."""
    import pytest

    from clinical_trials_etl_spark.cdc.envelope import (
        publish_envelope_window,
        run_envelope_stream,
    )

    src = LakeTable.create(spark, str(tmp_path / "src"), FIELDS, "url",
                           n_buckets=4)
    env = str(tmp_path / "env")
    src.merge(_batch(spark, [("u1", "a", 1, "I"), ("u2", "b", 2, "I")]),
              batch_id="e-1")
    publish_envelope_window(src, env)
    src.merge(_batch(spark, [("u1", "a2", 10, "U"),
                             ("u3", "c", 11, "I")]), batch_id="e-2")
    publish_envelope_window(src, env)

    rep = LakeTable.create(spark, str(tmp_path / "rep"), FIELDS, "url",
                           n_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(Exception, match="injected crash"):
        run_envelope_stream(spark, env, rep, ckpt,
                            max_files_per_trigger=1,
                            fail_after_batches=1)
    v_crashed = rep.current_version()
    assert v_crashed >= 1                      # the commit landed

    res = run_envelope_stream(spark, env, rep, ckpt)
    # the crashed epoch was re-delivered and ledger-skipped, the rest
    # applied; state converges with no duplicate commit for epoch 0
    assert ({(r["url"], r["val"]) for r in rep.read().collect()}
            == {(r["url"], r["val"]) for r in src.read().collect()})
    lineage_epochs = [
        e.get("epoch") for e in
        (rep._lineage_entry(v) for v in
         range(1, rep.current_version() + 1))
        if e and e.get("type_detail") == "envelope_stream"
    ]
    assert len(lineage_epochs) == len(set(lineage_epochs))
    # nothing new: one more invocation is a clean no-op
    res2 = run_envelope_stream(spark, env, rep, ckpt)
    assert res2["epochs"] == 0


# ----------------------------------------------- topic log compaction

def test_compact_envelope_windows_squashes_and_scrubs(spark, tmp_path):
    """Kafka cleanup.policy=compact analog: adjacent windows squash to
    one window of per-key winning envelopes; a late joiner replaying
    the compacted topic converges to the identical state, and
    superseded payloads are scrubbed from the topic bytes."""
    import os

    from clinical_trials_etl_spark.cdc.envelope import (
        apply_envelopes,
        compact_envelope_windows,
        publish_envelope_window,
    )

    src = LakeTable.create(spark, str(tmp_path / "src"), FIELDS, "url",
                           n_buckets=4)
    env = str(tmp_path / "env")
    src.merge(_batch(spark, [("u1", "secret-v1", 1, "I"),
                             ("u2", "b", 2, "I")]), batch_id="e-1")
    publish_envelope_window(src, env)
    src.merge(_batch(spark, [("u1", "secret-v2", 10, "U"),
                             ("u3", "c", 11, "I")]), batch_id="e-2")
    publish_envelope_window(src, env)
    src.merge(_batch(spark, [("u1", "final", 20, "U"),
                             ("u2", None, 21, "D")]), batch_id="e-3")
    publish_envelope_window(src, env)

    res = compact_envelope_windows(src, env)
    assert res == {"runs_compacted": 1, "windows_in": 3,
                   "overlaps_swept": 0}
    wins = sorted(d for d in os.listdir(env) if d.startswith("window-"))
    assert wins == ["window-00000000-00000003"]

    # a fresh replica from the compacted topic == the source
    rep = LakeTable.create(spark, str(tmp_path / "rep"), FIELDS, "url",
                           n_buckets=4)
    apply_envelopes(rep, env)
    live = {(r["url"], r["val"]) for r in rep.read().collect()}
    assert live == {(r["url"], r["val"]) for r in src.read().collect()}
    assert live == {("u1", "final"), ("u3", "c")}

    # superseded ENVELOPES are gone from the topic bytes (the winner's
    # own before-image keeps one prior value — Debezium image
    # semantics; full scrub of a key is drop_tombstones' job); the
    # winning delete envelope survives so resuming consumers still
    # learn u2 died
    blob = ""
    wdir = os.path.join(env, wins[0])
    for fn in os.listdir(wdir):
        if fn.startswith("part-"):
            with open(os.path.join(wdir, fn)) as f:
                blob += f.read()
    assert "secret-v1" not in blob
    assert blob.count('"u1"') == 2          # ONE u1 envelope (before+after)
    assert '"op":"d"' in blob

    # idempotent: nothing left to squash (single window)
    assert compact_envelope_windows(src, env)["runs_compacted"] == 0


def test_compact_envelope_windows_tombstone_drop_and_upto(
        spark, tmp_path):
    """drop_tombstones scrubs deleted keys entirely (topic-side GDPR);
    upto_version protects the active tail; a consumer already past
    the compacted span is untouched by either."""
    import os

    from clinical_trials_etl_spark.cdc.envelope import (
        apply_envelopes,
        compact_envelope_windows,
        publish_envelope_window,
    )

    src = LakeTable.create(spark, str(tmp_path / "src"), FIELDS, "url",
                           n_buckets=4)
    env = str(tmp_path / "env")
    src.merge(_batch(spark, [("gone", "pii", 1, "I"),
                             ("kept", "x", 2, "I")]), batch_id="e-1")
    publish_envelope_window(src, env)
    src.merge(_batch(spark, [("gone", None, 10, "D")]), batch_id="e-2")
    publish_envelope_window(src, env)

    # a replica already caught up past the span (the drop precondition)
    rep = LakeTable.create(spark, str(tmp_path / "rep"), FIELDS, "url",
                           n_buckets=4)
    apply_envelopes(rep, env)

    src.merge(_batch(spark, [("tail", "t", 20, "I")]), batch_id="e-3")
    publish_envelope_window(src, env)

    res = compact_envelope_windows(src, env, upto_version=2,
                                   drop_tombstones=True)
    assert res == {"runs_compacted": 1, "windows_in": 2,
                   "overlaps_swept": 0}
    wins = sorted(d for d in os.listdir(env) if d.startswith("window-"))
    assert wins == ["window-00000000-00000002",
                    "window-00000002-00000003"]  # tail untouched
    blob = ""
    for fn in os.listdir(os.path.join(env, wins[0])):
        if fn.startswith("part-"):
            with open(os.path.join(env, wins[0], fn)) as f:
                blob += f.read()
    assert "gone" not in blob and "pii" not in blob   # full key scrub

    # late joiner: never learns the key existed, still converges live
    rep2 = LakeTable.create(spark, str(tmp_path / "rep2"), FIELDS,
                            "url", n_buckets=4)
    apply_envelopes(rep2, env)
    assert ({(r["url"], r["val"]) for r in rep2.read().collect()}
            == {(r["url"], r["val"]) for r in src.read().collect()})
    # the caught-up replica resumes past the span unaffected
    v = rep.current_version()
    apply_envelopes(rep, env)
    assert {(r["url"], r["val"]) for r in rep.read().collect()} == {
        (r["url"], r["val"]) for r in src.read().collect()}
    assert rep.current_version() == v + 1   # only the tail window


def test_compact_envelope_windows_respects_schema_boundary_and_badlines(
        spark, tmp_path):
    """Runs never cross a source.schema_ver boundary (each window is
    parsed at ONE stamped version), and malformed lines ride through
    compaction verbatim — dead-letter evidence is never destroyed."""
    import os

    from clinical_trials_etl_spark.cdc.envelope import (
        apply_envelopes,
        compact_envelope_windows,
        publish_envelope_window,
    )

    registry = {
        1: [dict(f) for f in FIELDS],
        2: [dict(f) for f in FIELDS]
        + [{"id": 3, "name": "extra", "type": "string"}],
    }
    src = LakeTable.create(spark, str(tmp_path / "src"), FIELDS, "url",
                           n_buckets=4)
    env = str(tmp_path / "env")
    src.merge(_batch(spark, [("u1", "a", 1, "I")]), batch_id="e-1")
    publish_envelope_window(src, env)
    src.merge(_batch(spark, [("u2", "b", 2, "I")]), batch_id="e-2")
    publish_envelope_window(src, env)
    # evolve to v2, then two more windows stamped at v2
    src.evolve(registry[2], note="add extra", registry_ver=2)
    src.merge(spark.createDataFrame(
        [("u3", "c", "e3", 10, "I"), ("u1", "a2", "e1", 11, "U")],
        "url string, val string, extra string, lsn long, op string"),
        batch_id="e-3")
    publish_envelope_window(src, env)
    src.merge(spark.createDataFrame(
        [("u4", "d", "e4", 20, "I")],
        "url string, val string, extra string, lsn long, op string"),
        batch_id="e-4")
    publish_envelope_window(src, env)

    # plant a malformed line in a v1 window (simulated torn upload;
    # a fresh file — appending to a Spark-written part would break
    # its .crc sidecar, which is a different failure class)
    w1 = sorted(d for d in os.listdir(env))[0]
    with open(os.path.join(env, w1, "part-zz-torn.json"), "w") as f:
        f.write('{"torn upload\n')

    res = compact_envelope_windows(src, env)
    assert res == {"runs_compacted": 2, "windows_in": 4,
                   "overlaps_swept": 0}
    wins = sorted(d for d in os.listdir(env) if d.startswith("window-"))
    assert wins == ["window-00000000-00000002",   # the v1 run
                    "window-00000002-00000005"]   # the v2 run
    blob = ""
    for fn in os.listdir(os.path.join(env, wins[0])):
        if fn.startswith("part-"):
            with open(os.path.join(env, wins[0], fn)) as f:
                blob += f.read()
    assert '{"torn upload' in blob                # evidence survives

    # replica from the compacted mixed-version topic: evolves at the
    # boundary, quarantines the bad line, converges
    rep = LakeTable.create(spark, str(tmp_path / "rep"), FIELDS, "url",
                           n_buckets=4)
    q = str(tmp_path / "quarantine")
    res2 = apply_envelopes(rep, env, registry=registry,
                           quarantine_dir=q, windows_per_commit=1)
    assert res2["quarantined"] == 1
    assert ({(r["url"], r["val"], r["extra"])
             for r in rep.read().collect()}
            == {(r["url"], r["val"], r["extra"])
                for r in src.read().collect()})


def test_compact_envelope_windows_legacy_window_ends_a_run(
        spark, tmp_path):
    """A legacy window (rows, but no stamped source.schema_ver) is not
    an empty bridge: it must not join a stamped run, where its rows
    would be parsed at the run's version."""
    import json
    import os

    from clinical_trials_etl_spark.cdc.envelope import (
        compact_envelope_windows,
        publish_envelope_window,
        topic_windows_df,
    )

    src = LakeTable.create(spark, str(tmp_path / "src"), FIELDS, "url",
                           n_buckets=4)
    env = str(tmp_path / "env")
    for i in range(3):
        src.merge(_batch(spark, [(f"u{i}", "v", i + 1, "I")]),
                  batch_id=f"e-{i + 1}")
        publish_envelope_window(src, env)
    # strip the version stamp from the first window (a pre-stamping
    # publisher); its .crc sidecars go too, or the rewrite fails them
    legacy = os.path.join(env, "window-00000000-00000001")
    for fn in os.listdir(legacy):
        path = os.path.join(legacy, fn)
        if fn.endswith(".crc"):
            os.remove(path)
        elif fn.startswith("part-"):
            with open(path) as f:
                envs = [json.loads(ln) for ln in f if ln.strip()]
            for e in envs:
                del e["source"]["schema_ver"]
            with open(path, "w") as f:
                f.writelines(json.dumps(e) + "\n" for e in envs)

    vers = {r["window"]: r["schema_ver"] for r in
            topic_windows_df(spark, env, with_schema_ver=True).collect()}
    assert vers["window-00000000-00000001"] is None
    res = compact_envelope_windows(src, env)
    assert res == {"runs_compacted": 1, "windows_in": 2,
                   "overlaps_swept": 0}
    assert sorted(d for d in os.listdir(env)
                  if d.startswith("window-")) == [
        "window-00000000-00000001", "window-00000001-00000003"]


def test_topic_windows_df_inspection(spark, tmp_path):
    """The topic as a queryable relation: spans, completeness, sizes,
    and (opt-in, one probe job) each window's stamped schema_ver."""
    import os

    from clinical_trials_etl_spark.cdc.envelope import (
        publish_envelope_window,
        topic_windows_df,
    )

    src = LakeTable.create(spark, str(tmp_path / "src"), FIELDS, "url",
                           n_buckets=2)
    env = str(tmp_path / "env")
    src.merge(_batch(spark, [("u1", "a", 1, "I")]), batch_id="e-1")
    publish_envelope_window(src, env)
    src.merge(_batch(spark, [("u2", "b", 2, "I")]), batch_id="e-2")
    publish_envelope_window(src, env)
    # an incomplete (crashed) window: no _SUCCESS
    os.makedirs(os.path.join(env, "window-00000002-00000009"))

    rows = {r["window"]: r for r in
            topic_windows_df(spark, env, with_schema_ver=True).collect()}
    assert len(rows) == 3
    w1 = rows["window-00000000-00000001"]
    assert (w1["from_version"], w1["to_version"]) == (0, 1)
    assert w1["complete"] and w1["files"] >= 1 and w1["bytes"] > 0
    assert w1["schema_ver"] == 1
    torn = rows["window-00000002-00000009"]
    assert not torn["complete"] and torn["files"] == 0
    assert torn["schema_ver"] is None

    # the job's --describe surfaces the topic summary
    from clinical_trials_etl_spark.job import main
    d = main(["--table", str(tmp_path / "src"), "--describe",
              "--envelope-dir", env])
    assert d["topic"] == {"windows": 3, "complete": 2,
                          "bytes": w1["bytes"]
                          + rows["window-00000001-00000002"]["bytes"],
                          "high_water": 2, "low_water": 0}


def test_compact_envelope_windows_replaces_crashed_window(spark, tmp_path):
    """A crashed publish can leave an unmarked (no ``_SUCCESS``)
    directory under exactly the name a run squashes into, and a
    crashed compaction leaves its ``.compact-tmp-*`` output. Neither
    may block compaction: the unmarked directory gives way to the
    squashed window and the temp output is swept."""
    import os

    from clinical_trials_etl_spark.cdc.envelope import (
        apply_envelopes,
        compact_envelope_windows,
        publish_envelope_window,
    )

    src = LakeTable.create(spark, str(tmp_path / "src"), FIELDS, "url",
                           n_buckets=2)
    env = str(tmp_path / "env")
    src.merge(_batch(spark, [("u1", "a", 1, "I")]), batch_id="e-1")
    publish_envelope_window(src, env)
    src.merge(_batch(spark, [("u1", "a2", 5, "U"), ("u2", "b", 6, "I")]),
              batch_id="e-2")
    publish_envelope_window(src, env)
    stale = os.path.join(env, "window-00000000-00000002")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-00000-stale.txt"), "w") as f:
        f.write("not an envelope\n")
    os.makedirs(os.path.join(env, ".compact-tmp-crashed"))

    res = compact_envelope_windows(src, env)
    assert res["runs_compacted"] == 1 and res["windows_in"] == 2
    assert sorted(os.listdir(env)) == ["window-00000000-00000002"]
    assert os.path.exists(os.path.join(stale, "_SUCCESS"))
    assert not os.path.exists(os.path.join(stale, "part-00000-stale.txt"))

    rep = LakeTable.create(spark, str(tmp_path / "rep"), FIELDS, "url",
                           n_buckets=2)
    apply_envelopes(rep, env)
    assert ({(r["url"], r["val"]) for r in rep.read().collect()}
            == {("u1", "a2"), ("u2", "b")})


def test_compact_envelope_windows_bridges_empty_and_sweeps_overlap(
        spark, tmp_path):
    """An empty (maintenance-only) window joins a run instead of
    fragmenting the topic around every maintenance pass, and the
    startup sweep finishes a crashed compaction's interrupted cleanup
    (a complete window fully covered by another is deleted)."""
    import os
    import shutil

    from clinical_trials_etl_spark.cdc.envelope import (
        apply_envelopes,
        compact_envelope_windows,
        publish_envelope_window,
    )

    src = LakeTable.create(spark, str(tmp_path / "src"), FIELDS, "url",
                           n_buckets=2)
    env = str(tmp_path / "env")
    src.merge(_batch(spark, [("u1", "a", 1, "I")]), batch_id="e-1")
    publish_envelope_window(src, env)
    src.compact(sort_by="url")         # maintenance-only commit...
    publish_envelope_window(src, env)  # ...publishes an EMPTY window
    src.merge(_batch(spark, [("u1", "a2", 5, "U"), ("u2", "b", 6, "I")]),
              batch_id="e-2")
    publish_envelope_window(src, env)

    res = compact_envelope_windows(src, env)
    assert res["runs_compacted"] == 1 and res["windows_in"] == 3
    wins = sorted(d for d in os.listdir(env) if d.startswith("window-"))
    assert wins == ["window-00000000-00000003"]

    # simulate the crash window: a prior pass squashed 3..5, RENAMED
    # the squashed window into place (complete, covering both), then
    # crashed before deleting the constituents
    src.merge(_batch(spark, [("u3", "c", 9, "I")]), batch_id="e-3")
    publish_envelope_window(src, env)          # window 3-4
    src.merge(_batch(spark, [("u4", "d", 12, "I")]), batch_id="e-4")
    publish_envelope_window(src, env)          # window 4-5
    covering = os.path.join(env, "window-00000003-00000005")
    os.makedirs(covering)
    for i, fn in enumerate(["window-00000003-00000004",
                            "window-00000004-00000005"]):
        for part in os.listdir(os.path.join(env, fn)):
            if part.startswith("part-"):
                shutil.copy(os.path.join(env, fn, part),
                            os.path.join(covering, f"part-{i}-{part[5:]}"))
    open(os.path.join(covering, "_SUCCESS"), "w").close()

    res2 = compact_envelope_windows(src, env)
    assert res2["overlaps_swept"] == 2         # both constituents
    # after the sweep the surviving windows (0-3, 3-5) are contiguous
    # and same-version, so the same pass squashes them further
    assert res2["runs_compacted"] == 1
    wins = sorted(d for d in os.listdir(env) if d.startswith("window-"))
    assert wins == ["window-00000000-00000005"]

    # replica over the compacted + swept topic converges completely
    rep = LakeTable.create(spark, str(tmp_path / "rep"), FIELDS, "url",
                           n_buckets=2)
    apply_envelopes(rep, env)
    assert ({r["url"] for r in rep.read().collect()}
            == {"u1", "u2", "u3", "u4"})
