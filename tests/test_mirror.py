"""Table-to-table replication tests (cdc/mirror.py): a downstream
mirror maintained purely from the change feed must converge to
LSN-identical state with the source under incremental sync, crash/
resume (re-sync is a no-op), multi-commit windows, and column-subset
projection — with the slim mirror's feed read provably never touching
the wide payload columns.
"""

from __future__ import annotations

import re

import pytest

from clinical_trials_etl_spark.cdc.mirror import (
    create_mirror,
    last_synced,
    sync_mirror,
)
from clinical_trials_etl_spark.cdc.replay import replay
from clinical_trials_etl_spark.datagen.changelog import (
    LogSpec,
    write_changelog_segments,
)
from clinical_trials_etl_spark.lake.table import LakeTable

SPEC = LogSpec(n_events=2000, n_hosts=20, paths_per_host=30, seed=7)


@pytest.fixture(scope="module")
def source(spark, tmp_path_factory):
    work = tmp_path_factory.mktemp("mirror-src")
    log = str(work / "wal")
    write_changelog_segments(spark, SPEC, log, n_segments=4)
    return replay(spark, log, str(work / "table"), merge_mode="delta")


def _state(table: LakeTable, cols=("url", "text", "language")):
    return {r["url"]: tuple(r[c] for c in cols) for r in
            table.read().collect()}


def test_mirror_converges_and_resyncs_noop(spark, source, tmp_path):
    m = create_mirror(spark, source, str(tmp_path / "m"))
    r1 = sync_mirror(source, m)
    assert not r1["skipped"] and r1["from"] == 0
    assert _state(m) == _state(source)
    assert last_synced(m) == source.current_version()
    # crash-after-commit / redundant poll: a second sync is a no-op
    r2 = sync_mirror(source, m)
    assert r2["skipped"] and r2["rows"] == 0


def test_mirror_incremental_catchup_after_source_advances(
    spark, source, tmp_path
):
    m = create_mirror(spark, source, str(tmp_path / "m"))
    # sync only half the history first (a lagging consumer) ...
    mid = source.current_version() // 2
    sync_mirror(source, m, to_version=mid)
    assert last_synced(m) == mid
    # ... then catch up in one multi-commit window
    r = sync_mirror(source, m)
    assert r["from"] == mid
    assert _state(m) == _state(source)
    # replication offset survives in the mirror's own metadata:
    # reopening the mirror cold resumes from the durable hwm
    m2 = LakeTable(spark, m.root)
    assert last_synced(m2) == source.current_version()


def test_mirror_applies_deletes_and_lsn_semantics(spark, tmp_path):
    fields = [{"id": 1, "name": "url", "type": "string"},
              {"id": 2, "name": "val", "type": "string"}]
    src = LakeTable.create(spark, str(tmp_path / "s"), fields, "url",
                           n_buckets=2)

    def b(rows):
        return spark.createDataFrame(
            rows, "url string, val string, lsn long, op string")

    src.merge(b([("u1", "a", 1, "I"), ("u2", "b", 2, "I")]), batch_id="e-1")
    m = create_mirror(spark, src, str(tmp_path / "m"))
    sync_mirror(src, m)
    # source: update u1 then delete it in SEPARATE commits; one sync
    # window must collapse to the delete (max-lsn winner in one merge)
    src.merge(b([("u1", "a2", 10, "U")]), batch_id="e-2")
    src.merge(b([("u1", None, 11, "D"), ("u2", "b2", 12, "U")]),
              batch_id="e-3", mode="delta")
    sync_mirror(src, m)
    assert _state(m, cols=("url", "val")) == _state(src, cols=("url", "val"))
    assert {r["url"] for r in m.read().collect()} == {"u2"}
    # the tombstone retains its LSN in the mirror too: a late lower-lsn
    # update replicated afterwards cannot resurrect the row
    src.merge(b([("u1", "late", 5, "U")]), batch_id="e-4")
    r = sync_mirror(src, m)
    assert {r["url"] for r in m.read().collect()} == {"u2"}


@pytest.mark.parametrize("mode", ["cow", "delta"])
def test_mirror_sync_across_erased_tombstone(spark, tmp_path, mode):
    """One sync window holding a delete whose tombstone a later
    ``compact(drop_tombstones_below_lsn=...)`` erased: the mirror must
    still drop the key."""
    fields = [{"id": 1, "name": "url", "type": "string"},
              {"id": 2, "name": "val", "type": "string"}]
    src = LakeTable.create(spark, str(tmp_path / "s"), fields, "url",
                           n_buckets=2)

    def b(rows):
        return spark.createDataFrame(
            rows, "url string, val string, lsn long, op string")

    src.merge(b([(f"u{i}", f"v{i}", i + 1, "I") for i in range(4)]),
              batch_id="e-1")
    m = create_mirror(spark, src, str(tmp_path / "m"))
    sync_mirror(src, m)
    src.merge(b([("u0", None, 10, "D")]), batch_id="e-2", mode=mode)
    src.merge(b([("u1", "v1b", 11, "U")]), batch_id="e-3", mode=mode)
    src.compact(drop_tombstones_below_lsn=20)
    sync_mirror(src, m)
    cols = ("url", "val")
    assert _state(m, cols=cols) == _state(src, cols=cols)
    assert set(_state(m, cols=cols)) == {"u1", "u2", "u3"}


def test_delta_mode_mirror(spark, source, tmp_path):
    m = create_mirror(spark, source, str(tmp_path / "m"))
    sync_mirror(source, m, mode="delta")
    assert _state(m) == _state(source)
    assert sync_mirror(source, m, mode="delta")["skipped"]


def test_column_subset_mirror_prunes_payloads(spark, source, tmp_path):
    m = create_mirror(spark, source, str(tmp_path / "m"),
                      columns=["language"])
    assert [f["name"] for f in m.fields()] == ["url", "language"]
    sync_mirror(source, m)
    exp = {r["url"]: r["language"] for r in source.read().collect()}
    got = {r["url"]: r["language"] for r in m.read().collect()}
    assert got == exp
    # the slim feed never scans the html/text payload columns
    cols = [f["name"] for f in m.fields()]
    plan = (source.changes(0, columns=cols)
            ._jdf.queryExecution().executedPlan().toString())
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas
    for s in schemas:
        assert "binary" not in s, s
        assert "f_3" not in s, s  # html field never read


def test_mirror_rejects_unknown_columns(spark, source, tmp_path):
    with pytest.raises(ValueError):
        create_mirror(spark, source, str(tmp_path / "m"),
                      columns=["nope"])
