"""Crash-point sweep over the snapshot commit.

Every write lands in three steps: its data files, then the commit's
manifest, then the snapshot link, after which ``_current`` advances.
Each test kills one operation after each step in turn and resumes it
from a fresh handle, as a restarted job would. After every resume:

- the table state equals the reference fold of the events applied;
- ``remove_orphans(older_than_s=0)`` reclaims exactly the parquet the
  crashed attempt left behind (none when the crash came after the
  link, because that commit landed);
- the next commit succeeds.

The crashes are injected by patching ``_write_manifest``,
``_write_snapshot`` and ``os.replace`` — no production hook.
"""

from __future__ import annotations

import os

import pytest

from clinical_trials_etl_spark.datagen.reference_fold import fold_changelog
from clinical_trials_etl_spark.lake.table import LakeTable

FIELDS = [
    {"id": 1, "name": "url", "type": "string"},
    {"id": 2, "name": "html", "type": "binary"},
]


class Crash(Exception):
    """The injected process death."""


def _die(*_a, **_k):
    raise Crash()


def _after_data(mp):
    mp.setattr(LakeTable, "_write_manifest", _die)


def _after_manifest(mp):
    mp.setattr(LakeTable, "_write_snapshot", _die)


def _after_link(mp):
    replace = os.replace

    def replace_unless_current(src, dst, *a, **k):
        if os.path.basename(dst) == "_current":
            raise Crash()
        return replace(src, dst, *a, **k)

    mp.setattr(os, "replace", replace_unless_current)


CRASH_POINTS = {"data": _after_data, "manifest": _after_manifest,
                "link": _after_link}


class _Log:
    """A table plus the change events it has absorbed."""

    def __init__(self, spark, root: str):
        self.spark, self.root = spark, root
        self.events: list[dict] = []
        self.lsn = 0
        t = LakeTable.create(spark, root, FIELDS, "url", n_buckets=2)
        self.merge(t, self.next([f"u{i}" for i in range(6)], "I"),
                   "load-0", "delta")

    def next(self, urls: list[str], op: str) -> list[dict]:
        rows = []
        for u in urls:
            self.lsn += 1
            rows.append({"lsn": self.lsn, "op": op, "url": u,
                         "warc_ts": None,
                         "html": f"<p>{u} {self.lsn}</p>".encode()})
        return rows

    def merge(self, t: LakeTable, rows: list[dict], batch_id: str,
              mode: str) -> None:
        df = self.spark.createDataFrame(
            [(r["url"], r["html"], r["lsn"], r["op"]) for r in rows],
            "url string, html binary, lsn long, op string")
        t.merge(df, batch_id=batch_id, mode=mode)
        self.events += rows

    def expected(self) -> dict[str, bytes]:
        return {u: r["html"] for u, r in fold_changelog(self.events).items()}


def _state(t: LakeTable) -> dict[str, bytes]:
    return {r["url"]: bytes(r["html"]) for r in t.read().collect()}


def _parquet(root: str) -> set[str]:
    return {os.path.join(d, f)
            for d, _s, fs in os.walk(os.path.join(root, "data"))
            for f in fs if f.endswith(".parquet")}


def _sweep(spark, root: str, make_op, check=None) -> None:
    """Crash ``make_op(log, i)``'s operation after each commit step,
    resume it on a fresh handle, then verify state, GC and the next
    commit."""
    log = _Log(spark, root)
    for i, (point, inject) in enumerate(CRASH_POINTS.items()):
        op = make_op(log, i)
        before = _parquet(root)
        with pytest.MonkeyPatch.context() as mp:
            inject(mp)
            with pytest.raises(Crash):
                op(LakeTable(spark, root))
        leftover = _parquet(root) - before
        assert leftover, point

        t = LakeTable(spark, root)  # the restarted job
        op(t)
        if check is not None:
            check(t, i)
        removed = t.remove_orphans(older_than_s=0)["removed_files"]
        if point == "link":  # the crashed commit landed: nothing stray
            assert removed == 0 and leftover <= _parquet(root)
        else:
            assert removed == len(leftover), point
            assert not leftover & _parquet(root), point
        assert _state(t) == log.expected(), point

    t = LakeTable(spark, root)
    log.merge(t, log.next(["u1", "u9"], "U"), "next-0", "delta")
    assert _state(t) == log.expected()


@pytest.mark.parametrize("mode", ["cow", "delta"])
def test_merge_crash_points(spark, tmp_path, mode):
    def make_op(log, i):
        rows = log.next(["u1", f"n{i}"], "U")
        return lambda t: log.merge(t, rows, f"b-{i}", mode)

    _sweep(spark, str(tmp_path / "t"), make_op)


def test_delete_where_crash_points(spark, tmp_path):
    def make_op(log, i):
        gone = log.next([f"u{i}"], "D")

        def op(t):
            t.delete_where(f"url = 'u{i}'", batch_id=f"del-{i}")
            log.events += gone
        return op

    _sweep(spark, str(tmp_path / "t"), make_op)


def test_compact_crash_points(spark, tmp_path):
    def make_op(log, i):
        # one more delta layer, so every cycle has layers to fold
        log.merge(LakeTable(spark, log.root),
                  log.next(["u2", "u3", f"n{i}"], "U"), f"b-{i}", "delta")
        return lambda t: t.compact(max_files_per_bucket=1)

    def folded(t, _i):
        assert all(len(ms) == 1 for ms in t.snapshot()["manifests"].values())

    _sweep(spark, str(tmp_path / "t"), make_op, folded)


def test_rebucket_crash_points(spark, tmp_path):
    sizes = [3, 2, 3]

    def make_op(_log, i):
        return lambda t: t.rebucket(sizes[i])

    def relaid(t, i):
        assert t.snapshot()["n_buckets"] == sizes[i]

    _sweep(spark, str(tmp_path / "t"), make_op, relaid)
