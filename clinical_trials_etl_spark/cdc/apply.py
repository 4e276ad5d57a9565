"""The CDC apply core: one micro-batch of change events -> lake table.

This is the engine's spine (SURVEY.md §7 stage 3; north rule):

  1. **Schema evolution first**: resolve the batch's max ``schema_ver``
     against the registry, diff vs the table schema, commit
     add/rename/widen before any data lands (so the MERGE always runs
     against the final shape of the batch).
  2. **Normalize transport -> table columns**: the wire format is the
     union-of-versions (Debezium-style); ``coalesce`` folds renamed
     columns (lang/language), types are cast to the evolved schema.
  3. **Max-LSN MERGE** into the bucket-pruned lake table
     (lake/table.py): ``LakeTable.merge`` owns the per-key
     max-(lsn, deleted) winner decision in both merge modes — one
     aggregation (``LakeTable._winner_per_key``) whose partial
     aggregation collapses duplicate deliveries and hot keys. A COW
     commit runs ONE exchange, on ``_bucket``, with the aggregation
     on top of it (partial aggregation after the exchange); a delta
     commit's one exchange is the aggregation's key exchange, with
     partial aggregation map-side before it.
     This replaces the reference's last-write-wins race
     (mongodb_storage.py:229-231) with deterministic max-LSN
     semantics; deletes tombstone.
  4. **Extract text** from html via the Arrow kernel (byte-identity
     invariant) as the merge's ``fill`` hook — in the tasks after the
     commit's one exchange, whose count AQE sets from the shuffle
     partitions (not the scan's file count, nor one task per bucket),
     and only on winning live batch rows.

Re-running the same (batch_id, rows) is a no-op end-to-end — the
exactly-once contract foreachBatch needs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from clinical_trials_etl_spark.cdc import registry as reg
from clinical_trials_etl_spark.dist import ensure_package_on_executors
from clinical_trials_etl_spark.functions.html_extract import fill_text_udf
from clinical_trials_etl_spark.lake.table import SYS_DELETED, SYS_LSN, LakeTable


def evolve_for_batch(table: LakeTable, batch: DataFrame,
                     registry: dict | None = None,
                     max_ver: int | None = None) -> list[dict]:
    """Apply registry-driven DDL for the newest schema version present
    in the batch. Returns the ops applied (possibly empty).

    ``max_ver``: pass the batch's max schema_ver when the caller already
    computed it (apply_batch folds it into the single per-batch metadata
    action); left None, this runs its own aggregation."""
    if max_ver is None:
        max_ver = batch.agg(F.max("schema_ver")).collect()[0][0]
    if max_ver is None:
        return []
    max_ver = int(max_ver)
    # monotonic guard: epochs can arrive out of schema order (a v2 file
    # processed after the table evolved to v4) — never evolve backwards;
    # normalize_batch folds old-shaped batches into the evolved schema
    if max_ver <= table.registry_version():
        return []
    target = reg.schema_for_version(max_ver, registry)
    current = table.fields()
    ops = reg.diff(current, target)
    if ops:
        table.evolve(
            reg.apply_ops(current, ops),
            note=f"registry v{max_ver}: {ops}",
            registry_ver=max_ver,
        )
    return ops


def _historical_names(field_id: int, registry: dict | None) -> list[str]:
    """Every name a field id has carried across registry versions,
    newest first — renamed columns on the wire coalesce by field id,
    which is exactly how Iceberg resolves renames (no name guessing)."""
    registry = registry or reg.PAGES_REGISTRY
    names: list[str] = []
    for ver in sorted(registry, reverse=True):
        for f in registry[ver]:
            if f["id"] == field_id and f["name"] not in names:
                names.append(f["name"])
    return names


def normalize_batch(
    batch: DataFrame, fields: list[dict], registry: dict | None = None
) -> DataFrame:
    """Transport (union schema) -> evolved table columns + (lsn, op).

    ``text`` is emitted as a null placeholder here and filled in by
    :func:`fill_text_post_winner` AFTER the merge's winner decision,
    in the tasks after its one exchange — so the Arrow HTML kernel
    (the expensive step) runs (a) in the exchange's AQE-coalesced
    tasks instead of at the scan's file-level parallelism (a WAL
    segment can be a single file = a single task), and (b) only on
    winning rows, never on superseded duplicate deliveries.

    Renamed columns fold by FIELD ID via the registry: a record written
    before a rename carries the old name, after it the new one — all
    historical names of the id coalesce (newest first) into the current
    column, so the fold needs no per-rename special cases."""
    cols = []
    for f in fields:
        name, typ = f["name"], f["type"]
        if name == "text":
            src = F.lit(None)
        else:
            candidates = [
                n
                for n in _historical_names(f["id"], registry)
                if n in batch.columns
            ]
            if not candidates and name in batch.columns:
                candidates = [name]
            if not candidates:
                src = F.lit(None)
            elif len(candidates) == 1:
                src = F.col(candidates[0])
            else:
                src = F.coalesce(*[F.col(n) for n in candidates])
        cols.append(src.cast(_dt(typ)).alias(name))
    return batch.select(*cols, F.col("lsn"), F.col("op"))


def _dt(t: str) -> str:
    return {"int": "int", "long": "long", "string": "string",
            "timestamp": "timestamp", "binary": "binary",
            "double": "double", "boolean": "boolean"}[t]


def fill_text_post_winner(df: DataFrame) -> DataFrame:
    """Fill ``text`` on the MERGE winner rows (both merge modes): COW
    target winners arrive with text already extracted at their original
    apply; batch winners carry the null placeholder and get the Arrow
    kernel here — after the winner aggregation, in the tasks after the
    commit's one exchange (``_bucket`` in cow, the key in delta; AQE
    coalesces them, since every Python UDF task pays a fixed cost:
    ~0.12 CPU-s on a 4-core VM, down from ~0.3 since the workers stopped
    re-reading ``pyspark.zip`` at every task start, see ``dist.py``),
    and never on superseded duplicate deliveries. The kernel is
    deterministic, so a (url, lsn) redelivery tie resolving to either
    side yields byte-identical text."""
    if "text" not in df.columns or "html" not in df.columns:
        return df
    # Masked kernel, NOT F.when(needy, kernel): Spark evaluates a
    # Python UDF unconditionally (ArrowEvalPython) even under CASE
    # WHEN, so a when-masked kernel re-extracts every already-extracted
    # TARGET winner each epoch — O(table) kernel work per micro-batch
    # instead of O(batch), the dominant cost as the table grows. And
    # not a split-filter-union either: the split's two branches each
    # re-run the winner plan's final pass (for the wide-agg merge that
    # is a table-sized SortAggregate, measured ~25% of a local[4]
    # replay). fill_text_udf masks inside pandas: single-branch plan,
    # one Arrow transfer of the winners, extraction only where text is
    # null and the row is live.
    return df.withColumn(
        "text",
        fill_text_udf(
            F.col("html"), F.col("text"), F.col(SYS_DELETED)
        ).cast("string"),
    )


def apply_batch(
    table: LakeTable,
    batch: DataFrame,
    batch_id: str,
    registry: dict | None = None,
    lineage: dict | None = None,
    merge_mode: str = "cow",
    wap_id: str | None = None,
) -> dict:
    """Full apply: evolve -> normalize -> MERGE (winner + extraction).
    Idempotent on ``batch_id``.

    ``merge_mode``: "cow" (rewrite touched buckets; default) or
    "delta" (merge-on-read append — O(batch) commit cost, reads
    reconcile, compact() folds; the write-amplification answer when
    micro-batches are small relative to bucket size).

    ``wap_id``: stage the merge for write-audit-publish instead of
    committing (LakeTable.merge wap contract; schema evolution still
    commits directly — an add/rename/widen is metadata the audit
    can't veto without vetoing the registry itself)."""
    ensure_package_on_executors(table.spark)
    snap = table.snapshot()
    if table.is_applied(batch_id, snap):
        return {"skipped": True, "version": snap["version"]}

    # ONE metadata action over the cheap column-pruned raw-batch scan
    # collects both per-batch facts the driver needs: the max schema_ver
    # (evolution trigger) and the exact touched-bucket set (the winner
    # rule preserves the url set, so the hint is exact). Round 1 ran these as
    # two separate jobs — two full-batch scan barriers per micro-batch,
    # the dominant fixed cost at small batch sizes.
    meta = batch.agg(
        F.max("schema_ver").alias("_mx"),
        F.collect_set(
            table.bucket_expr(F.col(table.key_field(snap)))
        ).alias("_buckets"),
        F.min("lsn").alias("_lsn_lo"),
        F.max("lsn").alias("_lsn_hi"),
    ).collect()[0]
    touched = set(meta["_buckets"])
    # correction-fence collisions are guarded inside LakeTable.merge
    # itself (every event channel — stream apply, envelope replicas,
    # mirrors — not just this one), see _guard_correction_fences
    # per-commit lineage carries the SOURCE OFFSET RANGE (north rule:
    # offset range -> snapshot-id -> row counts); free — same single
    # metadata aggregation job
    lineage = dict(lineage or {},
                   lsn_range=[meta["_lsn_lo"], meta["_lsn_hi"]])

    ops = evolve_for_batch(table, batch, registry, max_ver=meta["_mx"])
    fields = table.fields()
    normalized = normalize_batch(batch, fields, registry)
    # the batch reaches merge unshuffled: merge runs the commit's one
    # exchange and the winner aggregation, and extraction runs
    # post-winner via fill
    stats = table.merge(
        normalized,
        lsn_col="lsn",
        op_col="op",
        batch_id=batch_id,
        lineage=lineage,
        touched_hint=touched,
        mode=merge_mode,
        fill=fill_text_post_winner,
        wap_id=wap_id,
    )
    stats["evolution_ops"] = ops

    # Iceberg seam: on a cluster with a real catalog, render the SAME
    # ops/fields into executable DDL + MERGE (lake/iceberg_sql.py) —
    # set SPARK_GRAFT_ICEBERG_TABLE to a catalog table name; add
    # SPARK_GRAFT_ICEBERG_EXECUTE=1 to run them (needs the Iceberg jar).
    iceberg_table = os.environ.get("SPARK_GRAFT_ICEBERG_TABLE")
    if iceberg_table:
        from clinical_trials_etl_spark.lake import iceberg_sql

        view = f"cdc_batch_{batch_id.replace('-', '_')}"
        statements = iceberg_sql.alter_statements(iceberg_table, ops) + [
            iceberg_sql.merge_statement(
                iceberg_table, view, fields, table.key_field()
            )
        ]
        stats["iceberg_sql"] = statements
        if os.environ.get("SPARK_GRAFT_ICEBERG_EXECUTE") == "1":
            # the catalog MERGE needs the per-key winners, extracted —
            # the same rule and kernel the local merge runs (lazy — no
            # job unless these statements execute)
            fill_text_post_winner(LakeTable._winner_per_key(
                normalized.withColumns({
                    SYS_LSN: F.col("lsn"),
                    SYS_DELETED: F.col("op") == "D",
                }),
                table.key_field(),
            )).drop(SYS_LSN, SYS_DELETED).createOrReplaceTempView(view)
            for stmt in statements:
                table.spark.sql(stmt)
    return stats
