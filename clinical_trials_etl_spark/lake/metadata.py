"""Queryable metadata tables — the Iceberg inspection surface.

Iceberg exposes a table's own bookkeeping as relations
(``SELECT * FROM tbl.snapshots / files / history / partitions /
refs``); Delta has ``DESCRIBE HISTORY`` and ``DESCRIBE DETAIL``. Ops
teams live on these: "how many delta layers is bucket 7 carrying",
"which commit doubled the file count", "what's pinned against
retention". This module renders the same surface for ``LakeTable`` as
plain DataFrames plus registered temp views, so the whole ops story is
one ``spark.sql`` away (the engine's raw-SQL passthrough, SURVEY §2.10).

Reference analog: the reference's only introspection is ad-hoc Mongo
queries against the data itself (``st_trial_analytics.py:201-289``
``get_basic_stats``) — state about the STORE (what was committed when,
by which batch) is invisible there. At lake scale that state is the
first thing an operator asks for.

Scale notes (what is driver-side and why that is correct):
- ``snapshots`` / ``history`` / ``refs`` / ``lineage`` are O(commits)
  driver-side JSON reads — the same class of metadata the planner
  already loads per query; snapshot JSONs are O(n_buckets) each.
- ``files`` parses O(manifests) JSON driver-side (identical cost to
  ``LakeTable.files()``, i.e. to planning ONE read), emitting pure
  manifest facts, one row per (file, bucket). The optional per-file
  I/O enrichment (size bytes + footer row counts, stat'ed once per
  file and split across a delta layer's buckets) is serial under
  ``LakeTable.STATS_DISTRIBUTED_MIN_FILES`` files and one distributed
  ``mapInPandas`` job above it — the same threshold and job shape as
  the manifest-stats collector, so a 10^5-file table never stalls the
  driver on stat calls. The threshold is a class attribute; set it on
  ``LakeTable`` or on one table instance (object stores want ~100).
- ``partitions`` is a Spark aggregation over ``files`` — never a
  second metadata pass.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .table import LakeTable, SYS_LSN

_SNAPSHOTS_SCHEMA = (
    "version long, parent long, committed_at_epoch double, "
    "operation string, batch_id string, merged_rows long, "
    "touched_buckets int, rebases int, n_buckets int, n_fields int, "
    "is_current boolean"
)

_FILES_SCHEMA = (
    "version long, bucket int, layer int, is_delta boolean, "
    "path string, has_key_bloom boolean, stats_json string, "
    "size_bytes long, record_count long"
)

_REFS_SCHEMA = "name string, type string, version long"

_LINEAGE_SCHEMA = (
    "version long, operation string, batch_id string, "
    "merged_rows long, touched_buckets int, rebases int, "
    "detail_json string"
)

_CORE_LINEAGE_KEYS = {
    "type", "batch_id", "merged_rows", "touched_buckets", "rebases",
}


def snapshots_df(table: LakeTable) -> DataFrame:
    """One row per committed snapshot (Iceberg ``tbl.snapshots`` /
    Delta ``DESCRIBE HISTORY`` analog), with the commit's lineage
    facts inlined. ``committed_at`` is a proper timestamp column;
    the raw epoch double rides alongside for arithmetic."""
    cur = table.current_version()
    rows = []
    for snap in table._snapshots():
        v = snap["version"]
        lin = snap.get("lineage") or {}
        touched = lin.get("touched_buckets")
        rows.append((
            v,
            snap.get("parent"),
            float(snap["committed_at"]),
            lin.get("type") or ("create" if v == 0 else None),
            lin.get("batch_id"),
            lin.get("merged_rows"),
            len(touched) if isinstance(touched, list) else touched,
            lin.get("rebases", 0),
            snap["n_buckets"],
            len(snap["schema"]["fields"]),
            v == cur,
        ))
    return (
        table.spark.createDataFrame(rows, _SNAPSHOTS_SCHEMA)
        .withColumn("committed_at",
                    F.timestamp_seconds("committed_at_epoch"))
    )


def history_df(table: LakeTable) -> DataFrame:
    """Iceberg ``tbl.history``: when each version became current and
    whether it is an ancestor of the current state. The chain is
    linear by construction (every commit's parent is the version it
    was built on, including rollback — which REPLAYS an old state as
    a new version rather than moving a branch pointer), so ancestry
    is computed by the parent walk, not assumed."""
    ancestors: set[int] = set()
    by_version = {s["version"]: s for s in table._snapshots()}
    v = table.current_version()
    while v is not None and v in by_version:
        ancestors.add(v)
        v = by_version[v].get("parent")
    return (
        snapshots_df(table)
        .select(
            F.col("committed_at").alias("made_current_at"),
            "version",
            "parent",
            F.col("version").isin(list(ancestors))
            .alias("is_current_ancestor"),
            "operation",
        )
        .orderBy("version")
    )


def _file_rows(table: LakeTable, snap: dict) -> list[tuple]:
    """Manifest facts only — no file I/O. One row per (file, bucket)
    from ``LakeTable.file_layers``: a delta layer file holding several
    buckets has a row under each. Stats keys are remapped from
    physical ``f_<id>`` names to logical column names so the table is
    queryable without knowing the storage layout. The last element is
    the bucket's ``row_span`` of the file, which ``files_df`` splits
    the file's I/O facts by."""
    phys_to_name = {
        f"f_{f['id']}": f["name"] for f in snap["schema"]["fields"]
    }
    phys_to_name[SYS_LSN] = SYS_LSN
    rows: list[tuple] = []
    for e in table.file_layers(snap):
        stats = {
            phys_to_name.get(k, k): v
            for k, v in (e.get("stats") or {}).items()
        }
        rows.append((
            snap["version"],
            e["bucket"],
            e["layer"],
            bool(e.get("delta")),
            e["path"],
            "key_bloom" in e,
            json.dumps(stats, sort_keys=True),
            e["row_span"],
        ))
    return rows


def _bucket_share(io: tuple[int, int],
                  span: tuple[int, int] | None) -> tuple[int, int]:
    """A file's (size bytes, record count) attributed to one of its
    buckets: all of it for a one-bucket file; for a file shared by
    several, the rows of the bucket's ``[lo, hi)`` span and their
    share of the bytes, split so that the spans' shares sum to the
    file's size."""
    size, n = io
    if span is None or size < 0 or n <= 0:
        return io
    lo, hi = span
    return size * hi // n - size * lo // n, hi - lo


def _io_stats_serial(paths: list[str]) -> dict[str, tuple[int, int]]:
    import pyarrow.parquet as pq

    out: dict[str, tuple[int, int]] = {}
    for p in paths:
        try:
            out[p] = (os.path.getsize(p),
                      pq.ParquetFile(p).metadata.num_rows)
        except OSError:
            out[p] = (-1, -1)  # expired/missing file: visible, not fatal
    return out


def _io_stats_distributed(
    table: LakeTable, paths: list[str]
) -> dict[str, tuple[int, int]]:
    """Same facts as the serial path, as ONE narrow distributed job —
    executors stat the file and read its parquet footer (metadata
    only, zero data bytes); the collect is O(files) small rows. Same
    job shape and threshold as ``_footer_stats_distributed``."""

    def probe(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                try:
                    rows.append((p, os.path.getsize(p),
                                 pq.ParquetFile(p).metadata.num_rows))
                except OSError:
                    rows.append((p, -1, -1))
            yield pd.DataFrame(
                rows, columns=["path", "size_bytes", "record_count"])

    n_parts = min(len(paths),
                  table.spark.sparkContext.defaultParallelism)
    df = (
        table.spark.createDataFrame([(p,) for p in paths], "path string")
        .repartition(n_parts)
        .mapInPandas(probe,
                     "path string, size_bytes long, record_count long")
    )
    return {r["path"]: (r["size_bytes"], r["record_count"])
            for r in df.collect()}


def files_df(
    table: LakeTable,
    version: int | str | None = None,
    with_io_stats: bool = True,
) -> DataFrame:
    """One row per live data file and bucket of a snapshot (Iceberg
    ``tbl.files`` analog): bucket, merge-on-read layer index, delta
    flag, manifest min/max stats (logical column names, JSON), bloom
    presence, and — unless ``with_io_stats=False`` — size bytes +
    footer row count. A delta layer file holding several buckets has a
    row under each: its record count there is the bucket's (from the
    manifest) and its bytes the bucket's row share, so sums over
    buckets count each file once. ``version`` accepts an
    int, a tag name, or None for current. Expired-but-still-referenced
    paths report -1 for both I/O facts instead of failing the whole
    listing."""
    snap = table.snapshot(version)
    rows = _file_rows(table, snap)
    if not with_io_stats:
        return table.spark.createDataFrame(
            [r[:-1] + (None, None) for r in rows], _FILES_SCHEMA)
    paths = list(dict.fromkeys(r[4] for r in rows))
    if len(paths) >= table.STATS_DISTRIBUTED_MIN_FILES:
        io = _io_stats_distributed(table, paths)
    else:
        io = _io_stats_serial(paths)
    return table.spark.createDataFrame(
        [r[:-1] + _bucket_share(io[r[4]], r[-1]) for r in rows],
        _FILES_SCHEMA)


def partitions_df(
    table: LakeTable,
    version: int | str | None = None,
    with_io_stats: bool = True,
) -> DataFrame:
    """Per-bucket rollup (Iceberg ``tbl.partitions`` analog): file and
    delta-layer counts (a delta layer file counts in each bucket it
    holds), total bytes/records (its share there — the sums over
    buckets are the table's stored bytes and rows). A bucket whose
    ``delta_layers`` keeps growing is the compaction backlog signal;
    a bucket whose ``total_bytes`` dwarfs the median is the skew
    signal. One Spark aggregation over ``files_df`` — no extra
    metadata pass. ``with_io_stats=False`` keeps the count/layer
    signals and leaves the byte/record sums null (manifest-only)."""
    return (
        files_df(table, version, with_io_stats=with_io_stats)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("file_count"),
            F.sum(F.col("is_delta").cast("int")).alias("delta_files"),
            (F.max("layer") + F.lit(1)).alias("layers"),
            F.sum("size_bytes").alias("total_bytes"),
            F.sum("record_count").alias("total_records"),
        )
        .orderBy("bucket")
    )


def refs_df(table: LakeTable) -> DataFrame:
    """Every named pointer into the snapshot chain: the current head,
    immutable tags (retention pins), staged write-audit-publish
    candidates, and branches (for both staged kinds the version is the
    BASE they forked from / were audited against — they own no
    committed main version until published)."""
    rows = [("current", "head", table.current_version())]
    rows += [(name, "tag", v) for name, v in sorted(table.tags().items())]
    rows += [
        (wap_id, "wap-staged", rec["base_version"])
        for wap_id, rec in sorted(table.staged().items())
    ]
    if getattr(table, "branch_name", None) is None:
        rows += [
            (name, "branch", info["forked_at"])
            for name, info in sorted(table.branches().items())
        ]
    return table.spark.createDataFrame(rows, _REFS_SCHEMA)


def lineage_df(table: LakeTable) -> DataFrame:
    """The commit log as a relation: operation, batch id, row/bucket
    counts, rebase count, and every operation-specific fact (source
    offsets, compaction inputs, wap id, ...) preserved in
    ``detail_json`` — the per-partition lineage surface
    (offset-range -> version -> row counts) queryable with SQL."""
    rows = []
    for snap in table._snapshots():
        v = snap["version"]
        e = snap.get("lineage")
        if e is None:
            continue
        touched = e.get("touched_buckets")
        detail = {k: val for k, val in e.items()
                  if k not in _CORE_LINEAGE_KEYS}
        rows.append((
            v,
            e.get("type"),
            e.get("batch_id"),
            e.get("merged_rows"),
            len(touched) if isinstance(touched, list) else touched,
            e.get("rebases", 0),
            json.dumps(detail, sort_keys=True, default=str),
        ))
    return table.spark.createDataFrame(rows, _LINEAGE_SCHEMA)


_KINDS = {
    "snapshots": snapshots_df,
    "history": history_df,
    "files": files_df,
    "partitions": partitions_df,
    "refs": refs_df,
    "lineage": lineage_df,
}


def meta_df(table: LakeTable, kind: str, **kwargs) -> DataFrame:
    """Dispatch by kind — ``meta_df(t, "files", version="v3-tag")``."""
    try:
        fn = _KINDS[kind]
    except KeyError:
        raise ValueError(
            f"unknown metadata table {kind!r} (have {sorted(_KINDS)})"
        ) from None
    return fn(table, **kwargs)


def register_metadata_views(
    table: LakeTable, name: str, with_io_stats: bool = True
) -> list[str]:
    """Register every metadata table as ``<name>_<kind>`` temp views so
    the whole surface is reachable from ``spark.sql`` (the engine's
    raw-SQL passthrough): ``SELECT * FROM pages_partitions ORDER BY
    delta_files DESC``. The views capture the metadata AS OF
    registration (the rows were read driver-side when the DataFrame
    was built) — call this again after commits to refresh, e.g. on
    the streaming maintenance schedule, last in the list (``run_stream(
    maintenance=[..., (k, lambda t: register_metadata_views(t, name,
    with_io_stats=False))])``). ``with_io_stats=False`` keeps the
    per-epoch refresh free of file I/O: manifest facts, counts, and
    layer signals stay live; byte/record sums are null until a full
    registration."""
    out = []
    for kind, fn in _KINDS.items():
        view = f"{name}_{kind}"
        df = (fn(table, with_io_stats=with_io_stats)
              if kind in ("files", "partitions") else fn(table))
        df.createOrReplaceTempView(view)
        out.append(view)
    return out
