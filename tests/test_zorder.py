"""Z-order (Morton-curve) clustered compaction
(lake/table.py::compact(zorder_by=...)).

Contract under test:
- ``compact(zorder_by=[a, b], rows_per_file=k)`` is layout-only: the
  reconciled table content is unchanged (tombstones survive, winner
  rule intact), exactly like ``sort_by`` compaction;
- the clustering makes manifest-stats skipping effective on EVERY
  Z dimension: a narrow ``read(between=...)`` window on either column
  plans strictly fewer files than the table holds (a lexicographic
  multi-column sort only prunes its LEADING column — pinned here as
  the counterexample);
- ``between`` reads over a Z-ordered layout still equal read() + row
  filter (stats only skip, never substitute for the filter), including
  on string dimensions and in the presence of nulls (nulls cluster at
  the curve origin);
- validation: >=2 columns, known columns, orderable types only,
  mutually exclusive with ``sort_by``.

Reference analog: none — the reference has no storage layout control
at all (MongoDB heap + secondary indexes,
trials_extractor/storage/mongodb_storage.py:82-134). This is the
engine-native multi-dimensional pruning path (Iceberg
rewrite_data_files Z-order strategy / Morton 1966): at design scale a
pages table queried by BOTH time window and quality-score band cannot
be served by one sort order; Z-ordering bounds every file's box on
each dimension at ~F^(1/D) of the range.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from clinical_trials_etl_spark.lake.table import LakeTable

FIELDS = [
    {"id": 1, "name": "url", "type": "string"},
    {"id": 2, "name": "warc_ts", "type": "timestamp"},
    {"id": 3, "name": "score", "type": "long"},
    {"id": 4, "name": "html", "type": "binary"},
]

_T0 = datetime.datetime(2026, 1, 1)


def _grid_rows(n_side: int = 40):
    """A true n x n grid over (warc_ts hour, score) — independent
    dimensions, so per-file boxes measure clustering, not correlation."""
    return [
        (f"u{i:04d}", _T0 + datetime.timedelta(hours=i // n_side),
         i % n_side, b"<html>x</html>", i, "I")
        for i in range(n_side * n_side)
    ]


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, score long, html binary, "
              "lsn long, op string")


def _mk(spark, tmp_path, mode: str) -> LakeTable:
    t = LakeTable.create(spark, str(tmp_path / mode), FIELDS, "url",
                         n_buckets=1)
    t.merge(_batch(spark, _grid_rows()), batch_id="b1")
    if mode == "z":
        t.compact(zorder_by=["warc_ts", "score"], rows_per_file=100)
    elif mode == "lex":
        t.compact(sort_by=["warc_ts", "score"], rows_per_file=100)
    return t


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("zorder")
    return {m: _mk(spark, root, m) for m in ("z", "lex")}


def _planned(t, between):
    return len(set(t.read(between=between).inputFiles()))


_TS_WIN = ("warc_ts", _T0, _T0 + datetime.timedelta(hours=4))
_SC_WIN = ("score", 0, 4)


def test_content_unchanged_by_zorder_rewrite(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=2)
    t.merge(_batch(spark, _grid_rows(20)), batch_id="b1")
    before = sorted(map(tuple, t.read().collect()))
    t.compact(zorder_by=["warc_ts", "score"], rows_per_file=50)
    after = sorted(map(tuple, t.read().collect()))
    assert before == after and len(after) == 400


def test_zorder_prunes_both_dimensions(tables):
    t = tables["z"]
    total = len(t.files())
    assert total >= 8, "rows_per_file must split the bucket"
    ts_p, sc_p = _planned(t, _TS_WIN), _planned(t, _SC_WIN)
    assert 0 < ts_p < total
    assert 0 < sc_p < total


def test_lex_sort_prunes_only_leading_dimension(tables):
    lex, z = tables["lex"], tables["z"]
    total = len(lex.files())
    # leading column: lexicographic clustering is perfect there
    assert _planned(lex, _TS_WIN) < total
    # trailing column: every file spans the full score range
    assert _planned(lex, _SC_WIN) == total
    # ... which is exactly what Z-order fixes
    assert _planned(z, _SC_WIN) < _planned(lex, _SC_WIN)


@pytest.mark.parametrize("between", [_TS_WIN, _SC_WIN])
def test_between_equals_filter_on_zorder_layout(tables, between):
    t = tables["z"]
    col, lo, hi = between
    want = sorted(
        r.url for r in t.read()
        .where(F.col(col).between(F.lit(lo), F.lit(hi))).collect())
    got = sorted(r.url for r in t.read(between=between).collect())
    assert got == want and len(got) == 200


def test_string_dimension_correct(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=1)
    t.merge(_batch(spark, _grid_rows(20)), batch_id="b1")
    t.compact(zorder_by=["url", "score"], rows_per_file=50)
    got = {r.url for r in
           t.read(between=("url", "u0100", "u0199")).collect()}
    assert got == {f"u{i:04d}" for i in range(100, 200)}
    # and the string dimension actually clusters (6-byte prefix rank)
    planned = len(set(
        t.read(between=("url", "u0100", "u0199")).inputFiles()))
    assert planned < len(t.files())


def test_string_dimension_shared_prefix_still_clusters(spark, tmp_path):
    """Web urls all open with the same bytes (``https://...``) — a
    fixed-position 6-byte rank window would see one constant value and
    collapse the dimension (measured: zero url pruning before the
    fix, BENCH/BASELINE.md "Z-order clustered compaction"). The rank
    must skip the
    dimension-wide common prefix of min/max (shared by every value in
    between — lexicographic invariant) so the discriminating bytes
    land in the window."""
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=1)
    rows = [(f"https://site{i:04d}.example/page",
             _T0 + datetime.timedelta(hours=i % 20),
             i % 20, b"<html>x</html>", i, "I") for i in range(400)]
    t.merge(_batch(spark, rows), batch_id="b1")
    t.compact(zorder_by=["url", "warc_ts"], rows_per_file=50)
    win = ("url", "https://site0100.example/page",
           "https://site0199.example/page")
    got = {r.url for r in t.read(between=win).collect()}
    assert got == {f"https://site{i:04d}.example/page"
                   for i in range(100, 200)}
    planned = len(set(t.read(between=win).inputFiles()))
    assert planned < len(t.files()), \
        "shared https:// prefix must not defeat url clustering"


def test_nulls_cluster_at_origin_and_survive(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=1)
    rows = _grid_rows(10)
    rows += [(f"n{i}", None, None, None, 1000 + i, "I") for i in range(5)]
    t.merge(_batch(spark, rows), batch_id="b1")
    t.compact(zorder_by=["warc_ts", "score"], rows_per_file=30)
    assert t.read().count() == 105
    # between excludes the null rows, same as the row filter would
    got = {r.url for r in t.read(between=_SC_WIN).collect()}
    assert got == {r.url for r in t.read()
                   .where(F.col("score").between(0, 4)).collect()}


def test_tombstones_survive_zorder_compaction(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, "url",
                         n_buckets=1)
    t.merge(_batch(spark, _grid_rows(10)), batch_id="b1")
    t.merge(_batch(spark, [("u0005", _T0, 5, b"", 500, "D")]),
            batch_id="b2")
    t.compact(zorder_by=["warc_ts", "score"], rows_per_file=30)
    assert t.read().count() == 99
    # a late lower-LSN update must not resurrect the deleted key
    t.merge(_batch(spark, [("u0005", _T0, 5, b"z", 42, "U")]),
            batch_id="b3")
    assert t.read().where(F.col("url") == "u0005").count() == 0


def test_lineage_records_zorder(tables):
    top = tables["z"].history()[0]
    assert top["operation"] == "compaction"
    assert top["detail"]["zorder_by"] == ["warc_ts", "score"]


def test_validation(tables):
    t = tables["z"]
    with pytest.raises(ValueError, match=">=2 columns"):
        t.compact(zorder_by=["warc_ts"])
    with pytest.raises(ValueError, match="unknown zorder_by"):
        t.compact(zorder_by=["warc_ts", "nope"])
    with pytest.raises(ValueError, match="not orderable"):
        t.compact(zorder_by=["warc_ts", "html"])
    with pytest.raises(ValueError, match="exclusive"):
        t.compact(sort_by="warc_ts", zorder_by=["warc_ts", "score"])
