"""Incremental table-to-table replication over the change data feed.

A downstream LakeTable ("mirror") is kept in sync with an upstream
LakeTable by polling ``source.changes_window(last_synced, current)``
and MERGE-ing the feed — each poll reads O(changes since last sync),
never the upstream table. The consumed-version checkpoint is NOT a side file:
it is the mirror's own ``batch_hwm`` for the ``cdf-<version>`` batch-id
prefix, committed atomically with the merge itself, so a crash between
"applied the feed" and "recorded the offset" is unrepresentable —
exactly-once by construction (the same mechanism that makes the
foreachBatch sink exactly-once, reused as the replication checkpoint).

Correctness rests on the feed's LSN semantics: every change row carries
its original ``_lsn``, and the mirror's merge applies the same
max-(lsn, deleted) winner rule as the source, so a multi-commit feed
window collapses to the right per-key winner in ONE merge (no need to
replay commit-by-commit), and replication converges to LSN-identical
state regardless of poll cadence.

Column-subset mirrors (``columns=[...]``) replicate a projection — the
feed read is column-pruned at the source scan, so a slim mirror of a
wide table never moves the wide payloads. Reference analog: the
reference has no replication surface at all; consumers re-poll full
collections (trials_extractor/storage/mongodb_storage.py).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from clinical_trials_etl_spark.lake.table import LakeTable

_PREFIX = "cdf-"


def create_mirror(
    spark: SparkSession,
    source: LakeTable,
    root: str,
    columns: list[str] | None = None,
    n_buckets: int | None = None,
) -> LakeTable:
    """A fresh empty mirror with the source's current schema (or a
    column subset of it — the key is always included). Bootstrap is
    just the first sync: ``changes_window(0, cur)`` IS the full state."""
    snap = source.snapshot()
    key = source.key_field(snap)
    fields = LakeTable._field_subset(source.fields(snap), columns, key)
    return LakeTable.create(
        spark, root, fields=[dict(f) for f in fields], key_field=key,
        n_buckets=n_buckets or snap["n_buckets"],
    )


def last_synced(mirror: LakeTable) -> int:
    """The source version this mirror has applied (its durable
    replication offset); -1 before the first sync."""
    return int(mirror.snapshot()["batch_hwm"].get(_PREFIX, -1))


def sync_mirror(
    source: LakeTable,
    mirror: LakeTable,
    to_version: int | None = None,
    mode: str = "cow",
) -> dict:
    """Advance the mirror to the source's ``to_version`` (default:
    current). One feed read + one mirror merge per call; re-calling
    after success is a metadata no-op and re-calling after a crash
    resumes from the durable offset."""
    cur = source.current_version()
    if to_version is None:
        to_version = cur
    start = max(last_synced(mirror), 0)
    if to_version <= start:
        return {"skipped": True, "from": start, "to": start, "rows": 0}

    # resolve the mirror's columns against the source's to_version
    # schema BY FIELD ID — names may differ across a rename (the feed
    # comes back under to_version's names); fields the source didn't
    # have yet at to_version ride as nulls
    mirror_fields = mirror.fields()
    src_by_id = {f["id"]: f["name"]
                 for f in source.fields(source.snapshot(to_version))}
    feed_cols = [src_by_id[f["id"]] for f in mirror_fields
                 if f["id"] in src_by_id]
    # the window's net rows, one diff over all its commits: the
    # mirror applies the max-(lsn, deleted) winner rule anyway
    feed = source.changes_window(start, to_version, columns=feed_cols)
    src = feed.select(
        *[F.col(src_by_id[f["id"]]).alias(f["name"])
          if f["id"] in src_by_id
          else F.lit(None).cast(f["type"]).alias(f["name"])
          for f in mirror_fields],
        F.col("_lsn").alias("lsn"),
        F.when(F.col("_change_type") == "delete", F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
    )
    stats = mirror.merge(
        src, batch_id=f"{_PREFIX}{to_version}",
        lineage={"source_versions": [start, to_version]},
        mode=mode,
    )
    return {
        "skipped": stats.get("skipped", False),
        "from": start,
        "to": to_version,
        "rows": stats.get("merged_rows", 0),
    }
