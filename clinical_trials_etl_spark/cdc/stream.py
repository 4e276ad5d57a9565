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
import os
import threading

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


def run_stream(
    spark: SparkSession,
    log_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    metrics_path: str | None = None,
    registry: dict | None = None,
    merge_mode: str = "cow",
    compact_every: int | None = None,
    compact_sort_by: str | None = None,
    compact_zorder_by: list[str] | None = None,
    compact_rows_per_file: int | None = None,
    rebucket_after: tuple[int, int] | None = None,
    expire_every: int | None = None,
    expire_keep: int = 2,
    gc_orphans_every: int | None = None,
    gc_orphans_older_than_s: float = 86400.0,
    views: list[LakeTable] | None = None,
    refresh_views_every: int | None = None,
    envelope_dir: str | None = None,
    publish_envelopes_every: int | None = None,
    meta_views_name: str | None = None,
    refresh_meta_views_every: int | None = None,
    fail_after_batches: int | None = None,
    audit=None,
    min_lsn: int | None = None,
):
    """Process everything currently in ``log_dir`` through streaming
    micro-batches and stop (processAllAvailable). Safe to call again
    after a kill: the checkpoint resumes from committed offsets and the
    lake table skips already-applied epochs.

    ``merge_mode="delta"`` + ``compact_every=K``: merge-on-read
    streaming — each epoch appends O(batch) delta layers, and every K
    applied epochs the table folds layers back into base files
    (LakeTable.compact). Compaction is itself an idempotent snapshot
    commit, so a crash between apply and compact just defers the fold
    to the next boundary.

    Maintenance ops wired into the same applied-epoch cadence
    (crash-safe for the same reason — each is an independent snapshot
    commit, and a crash before it just defers it):

    - ``rebucket_after=(n, new_buckets)``: after the n-th applied epoch
      of THIS run, evolve the partitioning to ``new_buckets`` buckets
      (LakeTable.rebucket). Applied at most once per run, and skipped
      when the table already has that bucket count — so a killed and
      resumed run does not re-rewrite.
    - ``expire_every=K`` (+ ``expire_keep``): every K applied epochs,
      drop data files only snapshots older than the retained window
      reference (LakeTable.expire_snapshots) — the streaming analog of
      a scheduled retention job; without it a long-running delta stream
      accretes every superseded layer forever.

    - ``gc_orphans_every=K`` (+ ``gc_orphans_older_than_s``): every K
      applied epochs, reclaim data files stranded by crashes of
      earlier runs (LakeTable.remove_orphans) — age-gated, so the
      current run's freshly-written files are never touched.
    - ``views`` (+ ``refresh_views_every=K``): every K applied epochs,
      advance each materialized aggregate view (cdc/ivm.py) over the
      table's pre/post-image feed — live analytics ride the stream at
      O(changes) per refresh instead of a recompute per poll. A
      refresh is itself an idempotent view commit keyed on the
      consumed source version, so the crash story is identical to
      compaction: a kill between table commit and view refresh just
      defers the catch-up to the next boundary (or a manual
      ``refresh_agg_view`` after the stream). Refreshes run before any
      same-epoch snapshot expiry, and when combining with
      ``expire_every`` the retention window must cover the refresh
      cadence (``expire_keep`` snapshots >= versions between
      refreshes) — the feed fails fast on expired ranges rather than
      silently under-counting.
    - ``envelope_dir`` (+ ``publish_envelopes_every=K``): every K
      applied epochs, publish the feed window since the last publish
      as Debezium-style JSON-Lines envelopes under
      ``envelope_dir/window-<from>-<to>/`` (cdc/envelope.py) — the
      ingest job doubles as the change-topic producer for downstream
      non-lake consumers. The directory's ``_SUCCESS``-marked windows
      ARE the durable offset, so a crash mid-publish is retried and a
      resumed run continues from the last complete window. Runs
      before snapshot expiry for the same reason view refreshes do.
    - ``meta_views_name`` (+ ``refresh_meta_views_every=K``): every K
      applied epochs, (re-)register the table's metadata tables as
      ``<name>_snapshots / _files / _partitions / ...`` temp views
      (lake/metadata.py) — a monitoring query in the same session
      (``SELECT bucket, delta_files FROM <name>_partitions``) sees the
      lake's live bookkeeping without touching the data. Runs AFTER
      compaction/expiry in the same epoch so the views reflect that
      epoch's maintenance; driver-side metadata reads only.

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
            if compact_every and applied["n"] % compact_every == 0:
                # compact_sort_by: range-cluster the rewrite (e.g. on
                # warc_ts) so the fold ALSO buys manifest-stats file
                # skipping for windowed reads; compact_zorder_by:
                # Morton-cluster it so EVERY listed dimension skips
                # (time window AND url slice) — see LakeTable.compact
                table.compact(sort_by=compact_sort_by,
                              zorder_by=compact_zorder_by,
                              rows_per_file=compact_rows_per_file)
            if (
                rebucket_after
                and applied["n"] == rebucket_after[0]
                and table.snapshot()["n_buckets"] != rebucket_after[1]
            ):
                table.rebucket(rebucket_after[1])
            # views refresh BEFORE snapshot expiry: expiring first
            # could drop feed versions a lagging view still needs
            # (the feed fails fast on expired ranges)
            if views and refresh_views_every and (
                    applied["n"] % refresh_views_every == 0):
                from clinical_trials_etl_spark.cdc.ivm import (
                    refresh_agg_view,
                )

                for v in views:
                    refresh_agg_view(table, v)
            if envelope_dir and publish_envelopes_every and (
                    applied["n"] % publish_envelopes_every == 0):
                from clinical_trials_etl_spark.cdc.envelope import (
                    publish_envelope_window,
                )

                publish_envelope_window(table, envelope_dir)
            if expire_every and applied["n"] % expire_every == 0:
                table.expire_snapshots(keep_last=expire_keep)
            if gc_orphans_every and (
                    applied["n"] % gc_orphans_every == 0):
                # reclaim output stranded by crashes of EARLIER runs;
                # the age gate keeps this run's in-flight files safe
                table.remove_orphans(
                    older_than_s=gc_orphans_older_than_s)
            if meta_views_name and refresh_meta_views_every and (
                    applied["n"] % refresh_meta_views_every == 0):
                # last in the epoch so the views see this epoch's
                # maintenance commits too; driver-side metadata only —
                # I/O enrichment is skipped on the hot path
                from clinical_trials_etl_spark.lake.metadata import (
                    register_metadata_views,
                )

                register_metadata_views(table, meta_views_name,
                                        with_io_stats=False)
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
