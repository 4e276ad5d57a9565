"""Predicate row-level ops: ``delete_where`` / ``update_where``.

The lake-side correction surface (Iceberg ``DELETE FROM t WHERE p`` /
``UPDATE t SET ... WHERE p``) expressed through the engine's own event
channel, so every downstream consumer — change feed, mirrors,
incremental views, envelope topics — sees ordinary events:

- a delete tombstones the matching live winners at each row's OWN lsn
  (sound: the max-(lsn, deleted) tie rule orders the tombstone above
  the live row, and any strictly newer upstream event still wins);
- an update stamps corrected rows at a fence lsn = max stored lsn + 1
  (two non-deleted payloads at one (key, lsn) is the ambiguity the
  ordering forbids), records the fence in the snapshot, and the apply
  path refuses a future upstream event that lands exactly ON the fence
  for a corrected key (CorrectionFenceCollision) instead of resolving
  the tie arbitrarily.

Reference analog: the reference has no row-level correction surface at
all — operators edit MongoDB documents by hand (mongodb_storage.py's
collections are mutated out-of-band); this is the auditable,
feed-visible replacement.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_trials_etl_spark.cdc.apply import apply_batch
from clinical_trials_etl_spark.cdc.ivm import (
    create_agg_view,
    read_agg_view,
    refresh_agg_view,
)
from clinical_trials_etl_spark.cdc.mirror import create_mirror, sync_mirror
from clinical_trials_etl_spark.cdc.replay import create_pages_table
from clinical_trials_etl_spark.lake.table import (
    SYS_DELETED,
    SYS_LSN,
    CorrectionFenceCollision,
    LakeTable,
)

FIELDS = [
    {"id": 1, "name": "url", "type": "string"},
    {"id": 2, "name": "host", "type": "string"},
    {"id": 3, "name": "val", "type": "long"},
]

PAGES_COLS = ("lsn long, op string, url string, warc_ts timestamp, "
              "html binary, lang string, language string, "
              "fetch_status long, schema_ver int")


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "url string, host string, val long, lsn long, op string")


def _make(spark, tmp_path, name="t", mode="cow", n=6):
    t = LakeTable.create(spark, str(tmp_path / name), FIELDS, "url",
                         n_buckets=4)
    rows = [(f"u{i}", f"h{i % 2}", i * 10, i + 1, "I")
            for i in range(n)]
    t.merge(_batch(spark, rows), batch_id="e-1", mode=mode)
    return t


def _state(t):
    return {r["url"]: (r["host"], r["val"])
            for r in t.read().collect()}


# ---------------------------------------------------------- delete_where

@pytest.mark.parametrize("mode", ["cow", "delta"])
def test_delete_where_removes_matches_only(spark, tmp_path, mode):
    t = _make(spark, tmp_path, mode=mode)
    before = _state(t)
    res = t.delete_where("host = 'h1'", mode=mode)
    assert res["deleted_rows"] == 3
    after = _state(t)
    assert set(after) == {u for u, (h, _v) in before.items() if h == "h0"}
    assert all(after[u] == before[u] for u in after)


def test_row_op_predicate_columns_resolve_case_insensitively(
        spark, tmp_path):
    """``HOST`` names column ``host`` the way Spark resolves it: the
    probe's narrow projection must carry the column, or the predicate
    cannot resolve against it."""
    t = _make(spark, tmp_path)
    before = _state(t)
    assert t.delete_where("HOST = 'h1'")["deleted_rows"] == 3
    assert set(_state(t)) == {u for u, (h, _v) in before.items()
                              if h == "h0"}
    assert t.update_where("Host = 'h0'", {"val": "VAL + 1"})[
        "updated_rows"] == 3
    assert _state(t)["u2"] == ("h0", 21)


def test_delete_where_column_predicate_and_empty_match(spark, tmp_path):
    t = _make(spark, tmp_path)
    v0 = t.current_version()
    # Column-object predicate works identically to the SQL string
    res = t.delete_where(F.col("val") >= 40)
    assert res["deleted_rows"] == 2
    assert set(_state(t)) == {"u0", "u1", "u2", "u3"}
    # no matches -> no commit at all (no empty snapshot in the chain)
    v1 = t.current_version()
    res2 = t.delete_where("val > 1000")
    assert res2["skipped"] and res2["deleted_rows"] == 0
    assert t.current_version() == v1 > v0


def test_delete_tombstones_carry_no_payload_and_keep_lsn(spark, tmp_path):
    """GDPR shape: the delete commit must not re-persist the deleted
    values, and the tombstone keeps the row's own lsn so the
    late-arrival guard still holds."""
    t = _make(spark, tmp_path, mode="delta")
    t.delete_where("url = 'u3'", mode="delta")
    raw = t.read_raw().filter(F.col("url") == "u3").collect()
    assert len(raw) == 1
    r = raw[0]
    assert r[SYS_DELETED] is True
    assert r[SYS_LSN] == 4               # u3 was inserted at lsn 4
    assert r["host"] is None and r["val"] is None


def test_delete_then_upstream_precedence(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.delete_where("url = 'u2'")
    # redelivered stale event at the row's old lsn: stays deleted
    # (tie rule — deleted outranks live at equal lsn)
    t.merge(_batch(spark, [("u2", "h0", 20, 3, "U")]), batch_id="e-2")
    assert "u2" not in _state(t)
    # genuinely newer upstream event resurrects: source stays truth
    t.merge(_batch(spark, [("u2", "hX", 99, 50, "U")]), batch_id="e-3")
    assert _state(t)["u2"] == ("hX", 99)


def test_delete_where_exactly_once_and_erasure_recipe(spark, tmp_path):
    t = _make(spark, tmp_path, mode="delta")
    t.delete_where("host = 'h1'", mode="delta", batch_id="gdpr-1")
    v = t.current_version()
    res = t.delete_where("host = 'h1'", mode="delta", batch_id="gdpr-1")
    assert res["skipped"] and t.current_version() == v
    # plain compaction keeps the tombstones (the late-arrival guard,
    # and with it the KEY, must survive) but their payload is null
    t.compact()
    raw = {r["url"]: r for r in t.read_raw().collect()}
    assert raw["u1"][SYS_DELETED] and raw["u1"]["val"] is None
    # full key erasure: the operator asserts the source watermark has
    # passed the tombstones' lsns, compaction drops them, expiry +
    # GC reclaim the bytes — no live file mentions the keys at all
    t.compact(drop_tombstones_below_lsn=10)
    t.expire_snapshots(keep_last=1)
    t.remove_orphans(older_than_s=0.0)
    live = spark.read.parquet(*[e["path"] for e in t.files()])
    assert live.filter(F.col("f_1").isin("u1", "u3", "u5")).count() == 0
    assert set(_state(t)) == {"u0", "u2", "u4"}


def test_drop_tombstones_never_drops_live_rows(spark, tmp_path):
    t = _make(spark, tmp_path)                   # live rows at lsn 1..6
    t.delete_where("url = 'u0'")                 # tombstone at lsn 1
    t.compact(drop_tombstones_below_lsn=1_000_000)
    assert set(_state(t)) == {"u1", "u2", "u3", "u4", "u5"}
    assert t.read_raw().filter(F.col(SYS_DELETED)).count() == 0


def test_delete_where_wap_staged(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.delete_where("host = 'h0'", wap_id="audit-del")
    assert len(_state(t)) == 6           # nothing visible yet
    staged = {r["url"] for r in t.read_staged("audit-del").collect()}
    assert staged == {"u1", "u3", "u5"}
    t.publish_staged("audit-del")
    assert set(_state(t)) == {"u1", "u3", "u5"}


# ---------------------------------------------------------- update_where

@pytest.mark.parametrize("mode", ["cow", "delta"])
def test_update_where_basic(spark, tmp_path, mode):
    t = _make(spark, tmp_path, mode=mode)
    res = t.update_where("host = 'h1'", {"val": "val + 1"}, mode=mode)
    assert res["updated_rows"] == 3
    assert res["fence_lsn"] == 7         # max lsn was 6
    got = _state(t)
    assert got["u1"] == ("h1", 11)
    assert got["u3"] == ("h1", 31)
    assert got["u0"] == ("h0", 0)        # untouched
    # the fence is recorded in the snapshot for the apply-path guard
    assert t.snapshot()["correction_fences"] == [
        [7, t.current_version()]]


def test_update_where_column_assignment_and_validation(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.update_where(F.col("url") == "u0",
                   {"host": F.concat(F.col("host"), F.lit("-fixed"))})
    assert _state(t)["u0"] == ("h0-fixed", 0)
    with pytest.raises(ValueError, match="key column"):
        t.update_where("val = 0", {"url": "'u99'"})
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where("val = 0", {"nope": "1"})
    with pytest.raises(ValueError, match="does not exceed"):
        t.update_where("val = 0", {"val": "1"}, at_lsn=3)


def test_update_precedence_and_successive_fences(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.update_where("url = 'u1'", {"val": "111"})          # fence 7
    # stale upstream event below the fence loses
    t.merge(_batch(spark, [("u1", "h1", 1, 5, "U")]), batch_id="e-2")
    assert _state(t)["u1"] == ("h1", 111)
    # a second correction fences above the first
    res = t.update_where("url = 'u1'", {"val": "222"})
    assert res["fence_lsn"] == 8
    assert [p[0] for p in t.snapshot()["correction_fences"]] == [7, 8]
    # strictly newer upstream event beats every correction
    t.merge(_batch(spark, [("u1", "hN", 9, 100, "U")]), batch_id="e-3")
    assert _state(t)["u1"] == ("hN", 9)


def test_update_where_feed_emits_images(spark, tmp_path):
    t = _make(spark, tmp_path, n=4)
    v0 = t.current_version()
    t.update_where("url = 'u2'", {"val": "999"})
    t.delete_where("url = 'u3'")
    feed = t.changes(v0, pre_images=True).collect()
    by_type = {}
    for r in feed:
        by_type.setdefault(r["_change_type"], []).append(r)
    assert [r["val"] for r in by_type["update_preimage"]] == [20]
    assert [r["val"] for r in by_type["update_postimage"]] == [999]
    # the delete's feed row carries the OLD values (pre-image), not
    # the payload-free tombstone
    assert [(r["url"], r["val"]) for r in by_type["delete"]] == [("u3", 30)]
    assert "insert" not in by_type


def test_row_ops_mirror_and_ivm_converge(spark, tmp_path):
    """Downstream consumers fold row-level ops as ordinary events."""
    t = _make(spark, tmp_path)
    mirror = create_mirror(spark, t, str(tmp_path / "m"))
    view = create_agg_view(spark, t, str(tmp_path / "v"), ["host"],
                           [("count", None, "n"),
                            ("sum", "val", "sv")])
    sync_mirror(t, mirror)
    refresh_agg_view(t, view)
    t.update_where("host = 'h0'", {"val": "val + 5"})
    t.delete_where("url = 'u1'")
    sync_mirror(t, mirror)
    refresh_agg_view(t, view)
    assert _state(mirror) == _state(t)
    got = {r["host"]: (r["n"], r["sv"])
           for r in read_agg_view(view).collect()}
    want = {r["host"]: (r["n"], r["sv"])
            for r in t.read().groupBy("host")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("val").alias("sv")).collect()}
    assert got == want


def test_update_where_survives_compaction_and_rollback_drops_fence(
        spark, tmp_path):
    t = _make(spark, tmp_path, mode="delta")
    t.update_where("url = 'u0'", {"val": "42"}, mode="delta")
    t.compact()
    assert _state(t)["u0"] == ("h0", 42)
    # compaction (dict-copy snapshot) carries the fence forward
    assert [p[0] for p in t.snapshot()["correction_fences"]] == [7]
    # rolling back BEFORE the correction removes its fence with it
    t.rollback(1)
    assert "correction_fences" not in t.snapshot()
    assert _state(t)["u0"] == ("h0", 0)


def test_tombstone_drop_compaction_retires_correction_fences(
        spark, tmp_path, monkeypatch):
    """``compact(drop_tombstones_below_lsn=X)`` asserts no event below
    X can arrive — so no event can land on a fence below X either: the
    compaction retires those fences (keeping the ones at or above X),
    and once none is left merges stop running the fence guard."""
    t = _make(spark, tmp_path, mode="delta")
    t.update_where("url = 'u0'", {"val": "42"}, mode="delta")  # fence 7
    t.update_where("url = 'u1'", {"val": "43"}, mode="delta")  # fence 8
    t.compact(drop_tombstones_below_lsn=8)
    assert [p[0] for p in t.snapshot()["correction_fences"]] == [8]
    calls = []
    guard = LakeTable._guard_correction_fences
    monkeypatch.setattr(
        LakeTable, "_guard_correction_fences",
        lambda self, *a: calls.append(1) or guard(self, *a))
    t.merge(_batch(spark, [("u2", "h0", 1, 20, "U")]), batch_id="e-2")
    assert len(calls) == 1
    t.compact(drop_tombstones_below_lsn=21)
    assert "correction_fences" not in t.snapshot()
    t.merge(_batch(spark, [("u3", "h1", 2, 30, "U")]), batch_id="e-3")
    assert len(calls) == 1
    assert _state(t)["u0"] == ("h0", 42)
    assert _state(t)["u3"] == ("h1", 2)
    # every file already at/above the threshold: no bucket to rewrite,
    # the fences below it still retire
    t2 = _make(spark, tmp_path, name="t2", mode="delta")
    t2.update_where("url = 'u0'", {"val": "42"}, mode="delta")  # fence 7
    t2.merge(_batch(spark, [(f"u{i}", "h2", i, 20 + i, "U")
                            for i in range(6)]), batch_id="e-2", mode="cow")
    v = t2.current_version()
    res = t2.compact(drop_tombstones_below_lsn=10)
    assert (res["compacted_buckets"], res["version"]) == (0, v + 1)
    assert "correction_fences" not in t2.snapshot()
    assert t2.compact(drop_tombstones_below_lsn=10)["version"] == v + 1


# ------------------------------------------------- fence-collision guard

def _pages_batch(spark, rows):
    return spark.createDataFrame(rows, PAGES_COLS)


def test_fence_collision_guard(spark, tmp_path):
    """The one upstream LSN that could tie with a correction is the
    fence value itself — and only for keys the correction rewrote.
    The apply path must refuse exactly that case and nothing else."""
    t = create_pages_table(spark, str(tmp_path / "p"), n_buckets=4)
    apply_batch(t, _pages_batch(spark, [
        (1, "I", "u1", None, b"<p>a</p>", "en", None, None, 1),
        (2, "I", "u2", None, b"<p>b</p>", "en", None, None, 1),
    ]), "b1")
    res = t.update_where("url = 'u1'", {"lang": "'de'"})
    fence = res["fence_lsn"]
    assert fence == 3
    # an event AT the fence for an UNRELATED key applies normally
    apply_batch(t, _pages_batch(spark, [
        (fence, "U", "u2", None, b"<p>b2</p>", "en", None, None, 1),
    ]), "b2")
    assert t.read().filter(F.col("url") == "u2").count() == 1
    # an event AT the fence for the CORRECTED key is refused
    with pytest.raises(CorrectionFenceCollision, match="stamped at"):
        apply_batch(t, _pages_batch(spark, [
            (fence, "U", "u1", None, b"<p>x</p>", "de", None, None, 1),
        ]), "b3")
    # events ABOVE the fence pass and win
    apply_batch(t, _pages_batch(spark, [
        (fence + 1, "U", "u1", None, b"<p>new</p>", "fr", None, None, 1),
    ]), "b4")
    rows = t.read().filter(F.col("url") == "u1").collect()
    assert rows[0]["lang"] == "fr"


def test_fence_guard_zero_cost_without_corrections(spark, tmp_path):
    """No correction ever ran -> no fences in the snapshot -> the
    probe expression is never even built (the agg has no fence
    column)."""
    t = create_pages_table(spark, str(tmp_path / "p2"), n_buckets=2)
    assert "correction_fences" not in t.snapshot()
    apply_batch(t, _pages_batch(spark, [
        (1, "I", "u1", None, b"<p>a</p>", "en", None, None, 1),
    ]), "b1")
    assert "correction_fences" not in t.snapshot()


def test_row_ops_on_branch_publish_via_fast_forward(spark, tmp_path):
    """Corrections compose with branches: stage a GDPR delete on an
    audit branch, inspect, fast-forward — main absorbs it as one net
    commit; aborting instead (drop_branch) leaves main untouched."""
    t = _make(spark, tmp_path)
    t.create_branch("audit")
    bt = t.branch("audit")
    bt.delete_where("host = 'h1'")
    bt.update_where("host = 'h0'", {"val": "val + 1000"})
    # main sees nothing yet
    assert set(_state(t)) == {f"u{i}" for i in range(6)}
    assert _state(bt)["u0"] == ("h0", 1000)
    t.fast_forward("audit")
    got = _state(t)
    assert set(got) == {"u0", "u2", "u4"}
    assert got["u2"] == ("h0", 1020)
    # the branch's correction fence traveled to main with the publish
    assert [p[0] for p in t.snapshot()["correction_fences"]] == [7]


def test_row_ops_randomized_fold_equivalence(spark, tmp_path):
    """Randomized sweep: an arbitrary interleaving of upstream merges
    (cow/delta), delete_where, update_where, and compaction must equal
    an independent pure-Python fold applying the documented rules —
    max-(lsn, deleted) winners, delete at own lsn (tie -> deleted),
    update at fence = max stored lsn + 1."""
    import random

    for seed in (11, 23):
        rng = random.Random(seed)
        t = LakeTable.create(spark, str(tmp_path / f"r{seed}"), FIELDS,
                             "url", n_buckets=4)
        # oracle: url -> [lsn, host, val, deleted]
        state: dict[str, list] = {}
        next_lsn = 1

        def upstream(n):
            nonlocal next_lsn
            rows = []
            for _ in range(n):
                u = f"u{rng.randrange(8)}"
                op = rng.choice(["I", "U", "U", "D"])
                # mix in-order and late (stale) lsns
                lsn = (next_lsn if rng.random() < 0.8
                       else max(1, next_lsn - rng.randrange(1, 6)))
                next_lsn = max(next_lsn, lsn) + 1
                host = f"h{rng.randrange(3)}"
                val = rng.randrange(100)
                rows.append((u, None if op == "D" else host,
                             None if op == "D" else val, lsn, op))
                cur = state.get(u)
                cand = (lsn, op == "D")
                if cur is None or cand > (cur[0], cur[3]):
                    state[u] = [lsn, host, val, op == "D"]
            return rows

        batch_n = 0
        for _step in range(12):
            kind = rng.choice(["merge", "merge", "merge",
                               "delete", "update", "compact"])
            mode = rng.choice(["cow", "delta"])
            if kind == "merge":
                batch_n += 1
                t.merge(_batch(spark, upstream(rng.randrange(1, 6))),
                        batch_id=f"e-{batch_n}", mode=mode)
            elif kind == "compact":
                t.compact()
            elif kind == "delete":
                h = f"h{rng.randrange(3)}"
                t.delete_where(f"host = '{h}'", mode=mode)
                for u, s in state.items():
                    if not s[3] and s[1] == h:
                        s[3], s[1], s[2] = True, None, None
            else:
                h = f"h{rng.randrange(3)}"
                fence = max((s[0] for s in state.values()),
                            default=-1) + 1
                matched = False
                for u, s in state.items():
                    if not s[3] and s[1] == h:
                        s[0], s[2], matched = fence, s[2] + 1, True
                if matched:
                    next_lsn = max(next_lsn, fence + 1)
                t.update_where(f"host = '{h}'", {"val": "val + 1"},
                               mode=mode)
            got = _state(t)
            want = {u: (s[1], s[2]) for u, s in state.items()
                    if not s[3]}
            assert got == want, (seed, _step, kind, got, want)


def test_fence_guard_covers_every_event_channel_and_exempts_deletes(
        spark, tmp_path):
    """The guard lives on LakeTable.merge, so a replica corrected
    locally and fed via the envelope topic is covered too; a DELETE
    at the fence is exempt — (lsn, deleted) ordering resolves it
    deterministically in the source's favor."""
    from clinical_trials_etl_spark.cdc.envelope import (
        apply_envelopes,
        publish_envelope_window,
    )

    src = _make(spark, tmp_path, name="src", n=3)
    env = str(tmp_path / "env")
    publish_envelope_window(src, env)
    rep = LakeTable.create(spark, str(tmp_path / "rep"), FIELDS, "url",
                           n_buckets=4)
    apply_envelopes(rep, env)
    res = rep.update_where("url = 'u1'", {"val": "999"})
    fence = res["fence_lsn"]

    # a DELETE event lands exactly on the replica's fence: exempt,
    # deterministic, the key dies — (lsn, deleted) orders the
    # tombstone above the correction at its own LSN. (Driven through
    # merge directly: envelope deletes carry the pre-image LSN by
    # convention, so that channel cannot mint a fence-LSN delete.)
    rep.merge(_batch(spark, [("u1", None, None, fence, "D")]),
              batch_id="d-1")
    assert "u1" not in _state(rep)

    # but a non-delete source event at a fresh fence for a corrected
    # key is refused by the ENVELOPE consumer path too
    res2 = rep.update_where("url = 'u2'", {"val": "888"})
    f2 = res2["fence_lsn"]
    src.merge(_batch(spark, [("u2", "hX", 1, f2, "U")]), batch_id="e-3")
    publish_envelope_window(src, env)
    with pytest.raises(CorrectionFenceCollision, match="stamped at"):
        apply_envelopes(rep, env)


def test_row_ops_between_bounds_scan_and_stays_exact(spark, tmp_path):
    """between=(col, lo, hi) bounds the correction's probe scan by
    manifest stats on a sorted-compacted table — fewer files planned,
    identical result to the unbounded predicate."""
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=2)
    rows = [(f"u{i:03d}", f"h{i % 4}", i, i + 1, "I")
            for i in range(400)]
    t.merge(_batch(spark, rows), batch_id="e-1")
    t.compact(sort_by="val", rows_per_file=50)
    total_files = len(t.files())
    assert total_files >= 8

    # the probe plan under the bound touches a file subset
    snap = t.snapshot()
    hits, _b, n = t._row_op_hits(
        snap, "host = 'h1' AND val BETWEEN 100 AND 149",
        between=("val", 100, 149))
    assert 0 < len(set(hits.inputFiles())) < total_files
    assert n == 13                     # i=101,105,...,149

    # bounded delete == unbounded delete on a twin table
    t2 = LakeTable.create(spark, str(tmp_path / "t2"), FIELDS, "url",
                          n_buckets=2)
    t2.merge(_batch(spark, rows), batch_id="e-1")
    t2.compact(sort_by="val", rows_per_file=50)
    r1 = t.delete_where("host = 'h1' AND val BETWEEN 100 AND 149",
                        between=("val", 100, 149))
    r2 = t2.delete_where("host = 'h1' AND val BETWEEN 100 AND 149")
    assert r1["deleted_rows"] == r2["deleted_rows"] == n
    assert _state(t) == _state(t2)

    # bounded update, same contract
    r3 = t.update_where("val BETWEEN 200 AND 219", {"val": "val + 1000"},
                        between=("val", 200, 219))
    assert r3["updated_rows"] == 20
    got = _state(t)
    assert got["u205"] == ("h1", 1205)
