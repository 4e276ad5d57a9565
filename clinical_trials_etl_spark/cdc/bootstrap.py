"""Initial-snapshot bootstrap: seed the lake table from a consistent
source snapshot, then tail the WAL from the snapshot's LSN.

Every real binlog/WAL deployment starts this way (Debezium's "initial
snapshot" phase): the source is already populated, the retained WAL
does not reach back to its creation, so ingest begins with a bulk load
of a consistent snapshot taken AT a known log position S, and the
stream applies only changes with lsn > S. The reference has the same
two phases operationally — a first full batch run over the existing
corpus (trials_extractor/main.py:134-157), then incremental re-runs —
but with no log position tying them together, so its re-runs re-process
everything; here the handoff is exact.

Correctness shape (pinned in tests/test_bootstrap.py):

- Snapshot rows are applied as op="I" events stamped with the
  snapshot LSN (or the source's per-row last-modified lsn when it
  provides one — validated <= S). Under the engine's max-LSN merge
  semantics that stamp makes the handoff SELF-CORRECTING: any replayed
  event with lsn <= S loses to the snapshot row, so even replaying the
  FULL log over a bootstrapped table converges to the fresh-replay
  state — the ``lsn > S`` source filter is an optimization (skip the
  prefix entirely, pushed down to the WAL scan), not a correctness
  requirement. Keys deleted before S are absent from the snapshot and
  stay absent (filtered path) or tombstone (full path) — live state
  identical either way.
- The bulk load goes through the SAME apply path as the stream
  (evolve -> normalize -> dedup -> MERGE), so text is extracted by the
  same Arrow kernel (byte-identity invariant holds across the seam),
  the snapshot's schema version drives registry evolution, and the
  load is idempotent on its batch id — a crashed-and-retried bootstrap
  is a metadata no-op, exactly like a redelivered epoch.

Scale: the snapshot load is ONE distributed bulk merge — a full
parquet/Iceberg scan shuffled once by key into the table's buckets
(the same single-shuffle COW plan a micro-batch uses, just bigger).
No driver-side iteration; 10^10 snapshot rows are 10^10 rows through
one shuffle, which is the floor for any initial load.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from clinical_trials_etl_spark.cdc import registry as reg
from clinical_trials_etl_spark.cdc.apply import apply_batch
from clinical_trials_etl_spark.lake.table import LakeTable

BOOTSTRAP_BATCH_ID = "bootstrap-0"

_META_COLS = {"lsn", "op", "schema_ver", "text"}


def infer_schema_ver(columns: list[str], registry: dict) -> int:
    """The highest registry version whose field names cover the
    snapshot's data columns (ignoring transport/meta columns and
    ``text``, which the engine always re-extracts). Raises when no
    version fits — a snapshot with columns the registry never declared
    is a wiring error, not something to guess around."""
    data_cols = set(columns) - _META_COLS
    for ver in sorted(registry, reverse=True):
        names = {f["name"] for f in registry[ver]}
        if data_cols <= names:
            return ver
    raise ValueError(
        f"snapshot columns {sorted(data_cols)} match no registry "
        f"version (latest declares "
        f"{sorted(f['name'] for f in registry[max(registry)])})")


def bootstrap_from_snapshot(
    spark: SparkSession,
    snapshot: DataFrame,
    table_root: str,
    snapshot_lsn: int,
    n_buckets: int = 16,
    registry: dict | None = None,
    schema_ver: int | None = None,
    merge_mode: str = "cow",
    key_bloom_bits: int | None = None,
) -> LakeTable:
    """Create the pages table at ``table_root`` and bulk-load
    ``snapshot`` as one idempotent commit stamped at ``snapshot_lsn``.

    ``snapshot``: table-shaped rows (url + any subset of the registry
    version's fields; ``text`` is ignored — re-extracted from html by
    the Arrow kernel so the byte-identity invariant holds). A ``lsn``
    column, when present, carries per-row last-modified positions and
    must be <= ``snapshot_lsn`` (validated in one aggregation).

    Re-running against an existing root re-validates and no-ops (the
    apply path's idempotency ledger), so a crashed bootstrap is simply
    retried. Continue ingest with ``replay(..., min_lsn=snapshot_lsn)``
    or ``run_stream(..., min_lsn=snapshot_lsn)`` — or without the
    filter; see the module docstring for why both converge."""
    registry = registry or reg.PAGES_REGISTRY
    if schema_ver is None:
        schema_ver = infer_schema_ver(snapshot.columns, registry)
    elif schema_ver not in registry:
        raise ValueError(f"schema_ver {schema_ver} not in the registry")

    if os.path.exists(os.path.join(table_root, "_meta", "_current")):
        table = LakeTable(spark, table_root)
    else:
        table = LakeTable.create(
            spark, table_root,
            fields=registry[min(registry)],
            key_field="url",
            n_buckets=n_buckets,
            key_bloom_bits=key_bloom_bits,
        )

    if "lsn" in snapshot.columns:
        hi = snapshot.agg(F.max("lsn")).collect()[0][0]
        if hi is not None and hi > snapshot_lsn:
            raise ValueError(
                f"snapshot carries lsn {hi} > snapshot_lsn "
                f"{snapshot_lsn} — the snapshot is not consistent at "
                f"the claimed log position")
        lsn = F.coalesce(F.col("lsn"), F.lit(snapshot_lsn)).cast("long")
    else:
        lsn = F.lit(snapshot_lsn).cast("long")

    events = snapshot.select(
        *[c for c in snapshot.columns
          if c not in ("op", "schema_ver", "lsn")],
        lsn.alias("lsn"),
        F.lit("I").alias("op"),
        F.lit(schema_ver).cast("int").alias("schema_ver"),
    )
    apply_batch(
        table, events, batch_id=BOOTSTRAP_BATCH_ID,
        registry=registry, merge_mode=merge_mode,
        lineage={"mode": "bootstrap", "snapshot_lsn": snapshot_lsn},
    )
    return table


def bootstrap_lsn(table: LakeTable) -> int | None:
    """The snapshot LSN a table was bootstrapped at, from the bootstrap
    commit's lineage entry — or None for tables built from lsn 0. The
    natural default for the stream's ``min_lsn``."""
    for entry in table.lineage():
        if entry.get("mode") == "bootstrap":
            return entry["snapshot_lsn"]
    return None
