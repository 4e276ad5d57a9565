"""Batch replay of a WAL segment directory (bench + verify surface).

Replays segments in order as deterministic micro-batches through the
same apply path the stream uses — no streaming machinery, so it's the
clean harness for throughput measurement (bench.py) and for the
replay-equivalence tests.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F

from clinical_trials_etl_spark.cdc.apply import apply_batch
from clinical_trials_etl_spark.cdc.registry import PAGES_REGISTRY
from clinical_trials_etl_spark.cdc.stream import (
    TRANSPORT_SCHEMA,
    Maintenance,
    run_maintenance,
)
from clinical_trials_etl_spark.lake.table import LakeTable


def create_pages_table(
    spark: SparkSession, root: str, n_buckets: int = 16,
    key_bloom_bits: int | None = None,
) -> LakeTable:
    return LakeTable.create(
        spark,
        root,
        fields=PAGES_REGISTRY[1],
        key_field="url",
        n_buckets=n_buckets,
        key_bloom_bits=key_bloom_bits,
    )


def list_segments(log_dir: str) -> list[str]:
    """``segment=<n>`` dirs under ``log_dir`` in numeric log order
    (``segment=10`` after ``segment=2``)."""
    segs = [
        os.path.join(log_dir, d)
        for d in sorted(
            (d for d in os.listdir(log_dir) if d.startswith("segment=")),
            key=lambda d: int(d[len("segment="):]),
        )
    ]
    if not segs:
        raise FileNotFoundError(f"no segment=* dirs under {log_dir}")
    return segs


def replay(
    spark: SparkSession,
    log_dir: str,
    table_root: str,
    segments_per_batch: int = 1,
    n_buckets: int = 16,
    registry: dict | None = None,
    start_segment: int = 0,
    batch_prefix: str = "replay",
    merge_mode: str = "cow",
    maintenance: Maintenance = (),
    key_bloom_bits: int | None = None,
    min_lsn: int | None = None,
    table: LakeTable | None = None,
) -> LakeTable:
    """Replay the log into a fresh (or existing, when resuming) table;
    one micro-batch per ``segments_per_batch`` segments.

    ``batch_prefix`` namespaces the idempotence ids (``{prefix}-{i}``,
    i = absolute segment index). Distinct replay passes against the
    SAME table (e.g. a base load then an update phase) MUST use
    distinct prefixes, or the second pass's ids collide with the
    first's and ``is_applied`` silently skips its batches. Within one
    logical pass, resuming must keep both the prefix and
    ``segments_per_batch``: the id is keyed to the segment index, so a
    chunking change across a resume would alias ids.

    ``maintenance``: the same ordered ``(every, task)`` schedule
    ``run_stream`` takes, counted in applied (not skipped)
    micro-batches. ``merge_mode="delta"`` with
    ``maintenance=[(K, LakeTable.compact)]`` is merge-on-read batch
    replay — the O(batch)-per-commit regime run_stream offers, for
    batch backfills (each batch appends delta layers; every K applied
    batches the table folds them back into base files).

    ``min_lsn``: skip events at or below this log position — the
    snapshot-bootstrap handoff (``cdc/bootstrap.py``: the snapshot
    already reflects them). A plain scan-level filter pushed down to
    the WAL parquet read; with max-LSN merge semantics it is an
    optimization, not a correctness requirement."""
    if table is None:
        # default target: the table at table_root (created if absent).
        # A caller ingesting into a BRANCH passes the branch table
        # explicitly (job.py --branch) — same apply path, its meta
        # chain instead of main's.
        if os.path.exists(os.path.join(table_root, "_meta", "_current")):
            table = LakeTable(spark, table_root)
        else:
            table = create_pages_table(spark, table_root, n_buckets,
                                       key_bloom_bits=key_bloom_bits)
    segs = list_segments(log_dir)
    applied = 0
    for i in range(start_segment, len(segs), segments_per_batch):
        chunk = segs[i : i + segments_per_batch]
        batch = spark.read.schema(TRANSPORT_SCHEMA).option(
            "basePath", log_dir
        ).parquet(*chunk)
        if min_lsn is not None:
            batch = batch.filter(F.col("lsn") > min_lsn)
        stats = apply_batch(
            table,
            batch,
            batch_id=f"{batch_prefix}-{i}",
            registry=registry or PAGES_REGISTRY,
            lineage={"segments": [os.path.basename(s) for s in chunk]},
            merge_mode=merge_mode,
        )
        if not stats.get("skipped"):
            applied += 1
            run_maintenance(table, maintenance, applied)
    return table
