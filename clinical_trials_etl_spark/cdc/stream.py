"""Streaming shell: tail the WAL segment directory with Structured
Streaming, apply each micro-batch through the CDC core, checkpointed for
kill/resume exactly-once (SURVEY.md §7 stage 4).

- Source: ``readStream.parquet`` over the segment dir (the sandbox's
  binlog; on a cluster this is ``format("kafka")`` with the identical
  foreachBatch body — the apply path is source-agnostic).
- Sink: ``foreachBatch`` -> ``cdc.apply.apply_batch`` -> LakeTable
  MERGE. The batch_id ties the streaming epoch to the lake commit, so a
  retried/resumed epoch is a metadata no-op (exactly-once: checkpointed
  offsets x idempotent commit).
- Lineage: every commit records the epoch and row counts in the
  snapshot's lineage list (offset-range -> snapshot-id -> row counts,
  per the north rule).
- Metrics: a StreamingQueryListener collects per-batch progress
  (rows/sec, duration) and flushes to a parquet metrics table.
"""

from __future__ import annotations

import json
import threading
from collections.abc import Callable, Sequence

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

from clinical_trials_etl_spark.cdc.apply import apply_batch
from clinical_trials_etl_spark.lake.table import LakeTable

TRANSPORT_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("lang", T.StringType()),
        T.StructField("language", T.StringType()),
        T.StructField("fetch_status", T.LongType()),
        T.StructField("schema_ver", T.IntegerType()),
        T.StructField("segment", T.IntegerType()),
    ]
)

# run_stream / replay maintenance schedule: ordered (every, task) pairs
Maintenance = Sequence[tuple[int, Callable[[LakeTable], object]]]


class AuditRejected(Exception):
    """A streaming epoch's staged candidate failed the audit gate —
    the candidate was aborted and the epoch's offsets were NOT
    checkpointed (resume re-delivers and re-audits the same batch).

    ``run_stream`` raises THIS type to its caller: the rejection
    happens inside the foreachBatch callback, which Structured
    Streaming wraps in a StreamingQueryException — run_stream unwraps
    it so quarantine handling can be a plain ``except AuditRejected``."""


class MetricsListener(StreamingQueryListener):
    """Collects micro-batch progress (A14 analog: the reference's batch
    success/dup/fail tallies, utils/batch_utils.py:67-69, upgraded to
    streaming progress events)."""

    def __init__(self):
        self.progress: list[dict] = []
        self._terminated: set[str] = set()
        self._cond = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append(
            {
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows,
                "input_rows_per_second": p.inputRowsPerSecond,
                "processed_rows_per_second": p.processedRowsPerSecond,
                "duration_ms": json.dumps(dict(p.durationMs or {})),
                "timestamp": p.timestamp,
            }
        )

    def onQueryTerminated(self, event):
        with self._cond:
            self._terminated.add(str(event.id))
            self._cond.notify_all()

    def wait_terminated(self, query_id, timeout_s: float = 10.0) -> bool:
        """Block until the listener bus has delivered ``query_id``'s
        termination event. The bus delivers a query's events in order,
        so every progress event of the query has arrived by then."""
        with self._cond:
            return self._cond.wait_for(
                lambda: str(query_id) in self._terminated, timeout_s)

    def onQueryIdle(self, event):
        pass

    def flush(self, spark: SparkSession, path: str) -> None:
        if not self.progress:
            return
        spark.createDataFrame(
            [tuple(d.values()) for d in self.progress],
            schema=list(self.progress[0].keys()),
        ).write.mode("overwrite").parquet(path)


def run_maintenance(table: LakeTable, maintenance: Maintenance,
                    applied: int) -> None:
    """Run, in list order, the task of every ``(every, task)`` pair of
    ``maintenance`` whose ``every`` divides ``applied``."""
    for every, task in maintenance:
        if applied % every == 0:
            task(table)


def run_stream(
    spark: SparkSession,
    log_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    metrics_path: str | None = None,
    registry: dict | None = None,
    merge_mode: str = "cow",
    maintenance: Maintenance = (),
    fail_after_batches: int | None = None,
    audit=None,
    min_lsn: int | None = None,
):
    """Process everything currently in ``log_dir`` through streaming
    micro-batches and stop (processAllAvailable). Safe to call again
    after a kill: the checkpoint resumes from committed offsets and the
    lake table skips already-applied epochs. ``merge_mode="delta"``
    appends O(batch) delta layers per epoch instead of rewriting the
    touched buckets; pair it with a compaction in ``maintenance``.

    ``maintenance`` is the table's maintenance schedule, an ordered
    list of ``(every, task)`` pairs (compaction, snapshot expiry,
    orphan GC, view refreshes, envelope publishes, ...): after each
    applied epoch (one the idempotent commit did not skip) every task
    whose ``every`` divides this run's applied-epoch count runs as
    ``task(table)``, in list order, before the ``fail_after_batches``
    check. It is crash-safe because each task is its own idempotent
    commit: a kill between an epoch's commit and its tasks only defers
    them to the next boundary, and the epoch re-delivered on resume is
    skipped and runs none. The order is the caller's, with two rules:
    view refreshes (``cdc.ivm.refresh_agg_view``) and envelope
    publishes (``cdc.envelope.publish_envelope_window``) go before
    snapshot expiry, whose retention must cover the versions between
    them (expiring first can drop feed versions they still need, and
    the feed fails fast on expired ranges), and metadata views
    (``lake.metadata.register_metadata_views``) go last, so they see
    the epoch's other maintenance commits. Example:
    ``[(2, LakeTable.compact), (8, lambda t: t.expire_snapshots())]``.

    ``audit``: per-epoch write-audit-publish gate,
    ``audit(candidate_df, stats) -> bool``. Each epoch's merge is
    STAGED (LakeTable WAP), the callable inspects the candidate table
    state (row-count deltas, null rates, dedup bounds — whatever the
    deployment's quality bar is), and True publishes metadata-only
    while False aborts and raises AuditRejected. A rejected epoch is
    never checkpointed, so after the quality incident is fixed the
    resumed stream re-delivers and re-audits the same batch — the
    quarantine semantics a production ingest wants (bad data never
    becomes current, good data is not lost). A crash between stage and
    publish leaves staged residue the retry aborts and re-stages; a
    crash between publish and checkpoint is the normal idempotent
    no-op redelivery.

    ``min_lsn``: skip events at or below this log position — the
    snapshot-bootstrap handoff (cdc/bootstrap.py; the bootstrap commit
    already reflects them). Scan-level pushed-down filter; under
    max-LSN merge semantics it is an optimization, not a correctness
    requirement.

    ``fail_after_batches=N`` is fault injection for tests: raise AFTER
    the N-th applied epoch's lake commit (and its maintenance) but
    BEFORE Structured Streaming checkpoints that epoch's offsets — the
    worst-case crash window. The resumed run re-delivers that epoch and
    the idempotent commit (batch_id already in lineage) must no-op."""
    listener = MetricsListener()
    spark.streams.addListener(listener)

    source = (
        spark.readStream.schema(TRANSPORT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("basePath", log_dir)
        .parquet(log_dir)
    )
    if min_lsn is not None:
        # snapshot-bootstrap handoff (cdc/bootstrap.py): the snapshot
        # already reflects lsn <= min_lsn; a scan-level filter, pushed
        # down to the WAL parquet read, skips the prefix entirely
        from pyspark.sql import functions as F

        source = source.filter(F.col("lsn") > min_lsn)

    applied = {"n": 0}
    rejected: dict[str, object] = {}

    def handle(batch_df, epoch_id: int):
        wap = f"epoch-{epoch_id}-audit" if audit is not None else None
        if wap is not None and wap in table.staged():
            # residue of a crash between stage and publish on an
            # earlier attempt of this epoch: the verdict was never
            # durable, so the retry re-stages and re-audits
            table.abort_staged(wap)
        stats = apply_batch(
            table,
            batch_df,
            batch_id=f"epoch-{epoch_id}",
            registry=registry,
            lineage={"epoch": epoch_id},
            merge_mode=merge_mode,
            wap_id=wap,
        )
        if wap is not None and stats.get("staged"):
            if audit(table.read_staged(wap), stats):
                stats = table.publish_staged(wap)
            else:
                table.abort_staged(wap)
                # Structured Streaming wraps exceptions raised here in
                # a StreamingQueryException — record the rejection so
                # awaitTermination's catch can re-raise the real type
                rejected["epoch"] = epoch_id
                raise AuditRejected(
                    f"epoch {epoch_id} rejected by the audit gate — "
                    f"candidate aborted, offsets not checkpointed; the "
                    f"resumed stream re-delivers this batch")
        if not stats.get("skipped"):
            applied["n"] += 1
            run_maintenance(table, maintenance, applied["n"])
            if fail_after_batches and applied["n"] >= fail_after_batches:
                raise RuntimeError(
                    f"injected crash after applied epoch {epoch_id} "
                    "(lake committed, offsets not)"
                )

    query = (
        source.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        try:
            query.awaitTermination()
        except Exception as exc:
            if rejected:
                raise AuditRejected(
                    f"epoch {rejected['epoch']} rejected by the audit "
                    f"gate — candidate aborted, offsets not "
                    f"checkpointed; the resumed stream re-delivers "
                    f"this batch") from exc
            raise
        # listener events are delivered asynchronously; drain before
        # flush by waiting for the query's termination event, which the
        # bus delivers after all of the query's progress events
        listener.wait_terminated(query.id)
    finally:
        spark.streams.removeListener(listener)
        if metrics_path:
            listener.flush(spark, metrics_path)
    return listener.progress


def lineage_report(table: LakeTable) -> list[dict]:
    """Per-commit lineage: epoch/segment -> merge stats, in commit
    order (the entry each committed snapshot embeds)."""
    return [{"commit_index": i, **e} for i, e in enumerate(table.lineage())]
