"""A delta commit writes its layer with ``_bucket`` as a column: one
file for a small batch, a few for a large one, each holding several
buckets.

The manifest lists each layer file under each of its buckets, and every
reader of a bucket subset must keep only those buckets' rows
(``_bucket`` filter) and read each path once. These tests rewrite,
fold and diff part of a shared layer's buckets and compare the table
and its change feeds with the reference fold of the events applied.
"""

from __future__ import annotations

import json
import random
import re

from clinical_trials_etl_spark.datagen.reference_fold import fold_changelog
from clinical_trials_etl_spark.lake.metadata import partitions_df
from clinical_trials_etl_spark.lake.table import LakeTable, SYS_BUCKET

FIELDS = [{"id": 1, "name": "url", "type": "string"},
          {"id": 2, "name": "html", "type": "binary"}]
N_BUCKETS = 8


class _Log:
    """A table plus the events it absorbed and the winner per key
    (lsn, deleted, html) — tombstones included — after each version."""

    def __init__(self, spark, root: str):
        self.spark = spark
        self.t = LakeTable.create(spark, root, FIELDS, "url",
                                  n_buckets=N_BUCKETS)
        self.events: list[dict] = []
        self.winners: dict[int, dict] = {0: {}}
        self.lsn = 0

    def bucket(self, url: str) -> int:
        return LakeTable._key_bucket(self.t.snapshot(), "string", url)

    def event(self, url: str, op: str, lsn: int | None = None) -> dict:
        if lsn is None:
            self.lsn += 2
            lsn = self.lsn
        html = None if op == "D" else f"{url}@{lsn}".encode()
        return {"lsn": lsn, "op": op, "url": url, "warc_ts": None,
                "html": html}

    def merge(self, rows: list[dict], mode: str) -> int:
        df = self.spark.createDataFrame(
            [(r["url"], r["html"], r["lsn"], r["op"]) for r in rows],
            "url string, html binary, lsn long, op string")
        before = self.winners[self.t.current_version()]
        self.t.merge(df, batch_id=f"b-{len(self.events)}", mode=mode)
        self.events += rows
        after = dict(before)
        for r in rows:
            w = (r["lsn"], r["op"] == "D", r["html"])
            if r["url"] not in after or w[:2] > after[r["url"]][:2]:
                after[r["url"]] = w
        return self._committed(after)

    def compact(self, **kw) -> int:
        prev = self.t.current_version()
        self.t.compact(**kw)
        return self._committed(dict(self.winners[prev]))

    def _committed(self, winners: dict) -> int:
        v = self.t.current_version()
        self.winners[v] = winners
        return v

    def live(self, v: int) -> dict[str, bytes]:
        return {u: w[2] for u, w in self.winners[v].items() if not w[1]}

    def expected_state(self) -> dict[str, bytes]:
        return {u: r["html"] for u, r in fold_changelog(self.events).items()}


def _state(t: LakeTable) -> dict[str, bytes]:
    return {r["url"]: bytes(r["html"]) for r in t.read().collect()}


def _feed_rows(df) -> list[tuple]:
    return sorted((r["url"], r["_lsn"], r["_change_type"])
                  for r in df.collect())


def _expected_feed(before: dict, after: dict) -> list[tuple]:
    return sorted((u, w[0], "delete" if w[1] else "upsert")
                  for u, w in after.items() if before.get(u) != w)


def _expected_changes(log: _Log, a: int, b: int) -> list[tuple]:
    """``changes(a, b)``'s rows: each commit's own diff."""
    return sorted(r for v in range(a + 1, b + 1)
                  for r in _expected_feed(log.winners[v - 1],
                                          log.winners[v]))


def _fold(state: dict[str, bytes], feed) -> dict[str, bytes]:
    out = dict(state)
    for r in feed.collect():
        if r["_change_type"] == "delete":
            out.pop(r["url"], None)
        else:
            out[r["url"]] = bytes(r["html"])
    return out


def _keys_by_bucket(log: _Log, n: int) -> dict[int, list[str]]:
    out: dict[int, list[str]] = {}
    for i in range(n):
        out.setdefault(log.bucket(f"u{i}"), []).append(f"u{i}")
    return out


def test_cow_merge_over_shared_layer_keeps_untouched_buckets(spark,
                                                              tmp_path):
    """A COW merge that touches some of a delta layer's buckets rewrites
    only those: every other bucket keeps the layer's rows."""
    log = _Log(spark, str(tmp_path / "t"))
    keys = _keys_by_bucket(log, 40)
    log.merge([log.event(f"u{i}", "I") for i in range(40)], "delta")
    assert len({e["path"] for e in log.t.files()}) == 1
    b0, b1 = sorted(keys)[:2]
    v = log.merge([log.event(keys[b0][0], "U"), log.event(keys[b1][0], "D")],
                  "cow")
    assert _state(log.t) == log.live(v) == log.expected_state()
    assert sorted(log.t.snapshot()["lineage"]["touched_buckets"]) \
        == [b0, b1]
    # the COW commit's own files hold its two buckets only
    assert {e["bucket"] for e in
            log.t._commit_files(log.t.snapshot()["lineage"])} == {b0, b1}
    assert _feed_rows(log.t.changes(0, v)) == _expected_changes(log, 0, v)


def test_compact_folds_some_of_a_layers_buckets(spark, tmp_path):
    """compact(max_files_per_bucket=k) folds only the buckets holding
    more than k files; the shared layers stay under the others, and
    the fold writes the folded buckets only."""
    log = _Log(spark, str(tmp_path / "t"))
    keys = _keys_by_bucket(log, 40)
    log.merge([log.event(f"u{i}", "I") for i in range(40)], "delta")
    hot = sorted(keys)[:3]
    for _ in range(2):
        log.merge([log.event(keys[b][0], "U") for b in hot], "delta")
    log.compact(max_files_per_bucket=2)
    snap = log.t.snapshot()
    lin = snap["lineage"]
    assert lin["buckets"] == hot
    (man,) = {snap["manifests"][str(b)][0] for b in hot}
    with open(man) as f:
        assert sorted(int(b) for b in json.load(f)["files"]) == hot
    layer = {e["path"] for e in log.t.files(snap, {b for b in keys
                                                    if b not in hot})}
    assert len(layer) == 1  # the first layer still serves the rest
    assert _state(log.t) == log.live(snap["version"]) \
        == log.expected_state()
    assert _feed_rows(log.t.changes(0, snap["version"])) \
        == _expected_changes(log, 0, snap["version"])


def test_window_feed_across_cow_rewrite_of_part_of_a_layer(spark,
                                                            tmp_path):
    """changes_window over [delta layer, COW merge rewriting some of its
    buckets] reads the layer only for the buckets the rewrite did not
    cover, and folds to the end state; a one-commit window over the
    layer emits each changed key once."""
    log = _Log(spark, str(tmp_path / "t"))
    keys = _keys_by_bucket(log, 40)
    v0 = log.merge([log.event(f"u{i}", "I") for i in range(20)], "delta")
    v1 = log.merge([log.event(f"u{i}", "U") for i in range(10, 40)],
                   "delta")
    covered = sorted(keys)[:2]
    v2 = log.merge([log.event(keys[b][-1], "U") for b in covered], "cow")
    uncovered = sorted({e["bucket"] for e in log.t._commit_files(
        log.t.snapshot(v1)["lineage"])} - set(covered))

    one = log.t.changes_window(v0, v1)
    assert _feed_rows(one) == _expected_feed(log.winners[v0],
                                             log.winners[v1])
    win = log.t.changes_window(v0, v2)
    assert _feed_rows(win) == _expected_feed(log.winners[v0],
                                             log.winners[v2])
    assert _fold(log.live(v0), win) == log.live(v2) == _state(log.t)
    # the v1 layer is scanned for its uncovered buckets only
    plan = win._jdf.queryExecution().executedPlan().toString()
    kept = re.findall(rf"array_contains\(\[([\d,]+)\], {SYS_BUCKET}#", plan)
    assert kept and {tuple(map(int, k.split(","))) for k in kept} \
        == {tuple(uncovered)}


def test_partitions_total_records_counts_each_row_once(spark, tmp_path):
    """A layer file has a files row under each of its buckets; the
    per-bucket records and bytes still sum to what is stored."""
    import os

    log = _Log(spark, str(tmp_path / "t"))
    log.merge([log.event(f"u{i}", "I") for i in range(30)], "delta")
    log.merge([log.event(f"u{i}", "U") for i in range(10, 50)], "delta")
    parts = partitions_df(log.t).collect()
    paths = {e["path"] for e in log.t.files()}
    stored = spark.read.parquet(*paths).count()
    assert stored == 70
    assert sum(r["total_records"] for r in parts) == stored
    assert sum(r["total_bytes"] for r in parts) \
        == sum(os.path.getsize(p) for p in paths)
    assert all(r["file_count"] == r["delta_files"] == r["layers"]
               for r in parts)


def test_parallel_delta_write_lists_each_file_under_its_buckets(
        spark, tmp_path):
    """With its exchange left uncoalesced a delta commit writes one file
    per non-empty shuffle partition, each holding several buckets: every
    file is listed under exactly the buckets it holds, and reads, the
    metadata tables and a COW merge over some buckets see each row
    once."""
    log = _Log(spark, str(tmp_path / "t"))
    keys = _keys_by_bucket(log, 64)
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        log.merge([log.event(f"u{i}", "I") for i in range(64)], "delta")
    finally:
        spark.conf.set(conf, prev)
    entries = log.t.files()
    paths = {e["path"] for e in entries}
    assert len(paths) > 1
    for p in paths:
        held = spark.read.parquet(p).groupBy(SYS_BUCKET).count().collect()
        assert sorted((e["bucket"], e["bucket_rows"][str(e["bucket"])])
                      for e in entries if e["path"] == p) \
            == sorted((r[SYS_BUCKET], r["count"]) for r in held)
    parts = partitions_df(log.t).collect()
    assert sum(r["total_records"] for r in parts) == 64
    b0 = sorted(keys)[0]
    v = log.merge([log.event(keys[b0][0], "D")], "cow")
    assert _state(log.t) == log.live(v) == log.expected_state()
    assert _feed_rows(log.t.changes(0, v)) == _expected_changes(log, 0, v)


def test_random_delta_cow_compact_sequence_matches_reference_fold(
        spark, tmp_path):
    """Random delta/COW/compaction commits, late arrivals included: after
    each one the table equals the reference fold, the per-commit feed
    emits each changed key exactly once, and the window feed since the
    start folds to the current state."""
    rng = random.Random(8)
    log = _Log(spark, str(tmp_path / "t"))
    urls = [f"u{i}" for i in range(48)]
    v = log.merge([log.event(u, "I") for u in urls[:32]], "delta")
    start, used = v, set()
    for step in range(7):
        kind = ["delta", "delta", "cow", "compact"][step % 4]
        if kind == "compact":
            v = log.compact(max_files_per_bucket=rng.choice([1, 2]))
            continue
        rows = [log.event(u, rng.choice("IUUD"))
                for u in rng.sample(urls, rng.randint(3, 14))]
        if step % 2:  # an out-of-order event: an unused older lsn
            late = rng.choice(sorted(set(range(1, log.lsn, 2)) - used))
            used.add(late)
            rows.append(log.event(rng.choice(urls), "U", lsn=late))
        prev = log.t.current_version()
        v = log.merge(rows, kind)
        assert _feed_rows(log.t.changes(prev, v)) \
            == _expected_changes(log, prev, v), step
        assert _state(log.t) == log.live(v) == log.expected_state(), step
    window = log.t.changes_window(start, v)
    assert _fold(log.live(start), window) == log.live(v)
    assert _feed_rows(window) == _expected_feed(log.winners[start],
                                                log.winners[v])
    hits = [u for u in urls if u in log.live(v)][:3]
    for u in hits:
        (row,) = log.t.lookup(u).collect()
        assert bytes(row["html"]) == log.live(v)[u]


def test_branch_publish_lists_a_layer_under_its_live_buckets(spark,
                                                              tmp_path):
    """A branch COW commit that rewrote some of a branch layer's buckets
    leaves the layer live under the others only: the publish's net
    manifest records it under those, and its feed folds the fork-point
    state to the published one."""
    log = _Log(spark, str(tmp_path / "t"))
    keys = _keys_by_bucket(log, 40)
    v0 = log.merge([log.event(f"u{i}", "I") for i in range(40)], "delta")
    fork_state = log.live(v0)
    main = log.t
    main.create_branch("audit")
    log.t = branch = main.branch("audit")
    log.merge([log.event(f"u{i}", "U") for i in range(10, 40)], "delta")
    layer = {e["bucket"] for e in branch._commit_files(
        branch.snapshot()["lineage"])}
    covered = sorted(layer)[:2]
    log.merge([log.event(keys[b][-1], "U") for b in covered], "cow")
    log.t = main
    main.fast_forward("audit")

    with open(main.snapshot()["lineage"]["commit_manifest"]) as f:
        (rec,) = json.load(f)["shared"]
    assert sorted(int(b) for b in rec["buckets"]) \
        == sorted(layer - set(covered))
    assert _state(main) == log.expected_state()
    feed = main.changes(v0, main.current_version())
    assert _fold(fork_state, feed) == log.expected_state()


def _edge_batch(log: _Log) -> list[dict]:
    """Two delta layers over a 40-key base, then a batch for a
    rewrite of their buckets with one of each edge case: a duplicate
    delivery, late events older than a layer's upsert and than its
    tombstone, and an upsert at the lsn of a layer's tombstone (the
    tombstone wins the tie; the fold keeps the first event of an
    lsn, which is the tombstone)."""
    log.merge([log.event(f"u{i}", "U") for i in range(20)]
              + [log.event("u20", "D")], "delta")
    tie = log.event("u21", "D")
    log.merge([tie, log.event("u22", "U")], "delta")
    layer = log.winners[log.t.current_version()]
    dup = log.event("u23", "U")
    return [dup, dict(dup), log.event("u24", "I"),
            log.event("u1", "U", lsn=layer["u1"][0] - 1),
            log.event("u20", "U", lsn=layer["u20"][0] - 1),
            log.event("u21", "U", lsn=tie["lsn"])]


def test_cow_merge_then_compact_over_layers_match_reference_fold(
        spark, tmp_path):
    """A COW merge and then a compaction over buckets holding delta
    layers read the layers unreconciled and pick every winner in the
    one aggregation after the bucket exchange: the state and the
    window feed equal the reference fold after each."""
    log = _Log(spark, str(tmp_path / "t"))
    v0 = log.merge([log.event(f"u{i}", "I") for i in range(40)], "cow")
    rows = _edge_batch(log)
    layered = {e["bucket"] for e in log.t.files() if e.get("delta")}
    touched = {log.bucket(r["url"]) for r in rows}
    assert touched < layered  # some layered buckets stay for compact
    v1 = log.merge(rows, "cow")
    assert all(log.t.snapshot()["manifests"][str(b)]
               == [log.t.snapshot()["lineage"]["commit_manifest"]]
               for b in touched)
    v2 = log.compact()
    assert sorted(log.t.snapshot()["lineage"]["buckets"]) \
        == sorted(layered - touched)
    assert all(len(m) == 1 for m in log.t.snapshot()["manifests"].values())
    for v in (v1, v2):
        assert _state(log.t) == log.live(v) == log.expected_state(), v
        window = log.t.changes_window(v0, v)
        assert _feed_rows(window) == _expected_feed(log.winners[v0],
                                                    log.winners[v]), v
        assert _fold(log.live(v0), window) == log.expected_state(), v
    assert "u20" not in log.live(v2) and "u21" not in log.live(v2)


def test_rebucket_over_layers_matches_reference_fold(spark, tmp_path):
    """rebucket() over buckets holding delta layers folds them in the
    aggregation after the new layout's bucket exchange: live rows equal
    the reference fold, every winner (tombstones included) survives,
    and a later COW merge of late events leaves the state on the fold."""
    log = _Log(spark, str(tmp_path / "t"))
    log.merge([log.event(f"u{i}", "I") for i in range(40)], "cow")
    rows = _edge_batch(log)
    v = log.merge(rows[:3], "delta")  # a third layer with a duplicate
    log.t.rebucket(N_BUCKETS // 2 + 1)
    v = log._committed(dict(log.winners[v]))
    snap = log.t.snapshot()
    assert snap["n_buckets"] == N_BUCKETS // 2 + 1
    assert all(len(m) == 1 for m in snap["manifests"].values())
    assert not any(e.get("delta") for e in log.t.files())
    assert {r["url"]: (r["_lsn"], r["_deleted"])
            for r in log.t.read_raw().collect()} \
        == {u: w[:2] for u, w in log.winners[v].items()}
    assert _state(log.t) == log.live(v) == log.expected_state()
    v = log.merge(rows[3:], "cow")
    assert _state(log.t) == log.live(v) == log.expected_state()
