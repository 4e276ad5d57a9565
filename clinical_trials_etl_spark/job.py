"""spark-submit entry point for the CDC ingest job.

Deployment shape per the north rule: the job ships as

    spark-submit --py-files clinical_trials_etl_spark.zip \
        clinical_trials_etl_spark/job.py \
        --log-dir s3://wal/segments --table s3://lake/pages \
        --checkpoint s3://ckpt/pages --stream

(spark-submit takes a script path, not -m; under an already-active
session the equivalent is ``python -m clinical_trials_etl_spark.job``.)

On a cluster the session comes from spark-submit's conf (master,
executors); standalone invocation falls back to the local session
factory. ``--stream`` tails the WAL with Structured Streaming
(checkpointed, exactly-once); without it the job performs a batch
replay of everything present (same apply path, same final state).

The reference's CLI analog is trials_extractor/main.py:52-157 (click
command -> batch over files); here the "plan" is the streaming DAG, not
a Python file list.

``--maintain`` runs the job as an OUT-OF-BAND maintenance pass against
a live table root instead of ingesting: small-file compaction
(optionally sort- or Z-order-clustered), snapshot expiry, and orphan
GC. This is the one deployment shape sanctioned to run beside the
ingest stream (Iceberg rewrite_data_files-as-a-separate-job pattern):
a compaction that loses the snapshot-commit race to delta-merge
commits rebases on top of them (``LakeTable.compact``); expiry and GC
are metadata-only and retry-safe.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="clinical_trials_etl_spark.job")
    p.add_argument("--log-dir", help="WAL segment directory "
                                     "(required unless --maintain)")
    p.add_argument("--table", required=True, help="lake table root")
    p.add_argument("--checkpoint", help="streaming checkpoint dir")
    p.add_argument("--stream", action="store_true",
                   help="tail via Structured Streaming (default: batch replay)")
    p.add_argument("--maintain", action="store_true",
                   help="run an out-of-band maintenance pass on --table "
                        "(compact + optional expiry/GC) instead of "
                        "ingesting; safe beside a live ingest stream — "
                        "a lost commit race rebases, it does not abort")
    p.add_argument("--metrics", help="parquet path for per-batch metrics")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--max-files-per-trigger", type=int, default=8)
    p.add_argument("--merge-mode", choices=["cow", "delta"], default=None,
                   help="cow rewrites touched buckets; delta appends "
                        "merge-on-read layers (pair with --compact-every)")
    p.add_argument("--compact-every", type=int, default=None,
                   help="fold delta layers into base files every N "
                        "applied epochs (stream) / micro-batches (replay)")
    p.add_argument("--compact-sort-by", default=None,
                   help="range-cluster each bucket by this column "
                        "during the in-stream fold (e.g. warc_ts) so "
                        "windowed reads skip files via manifest stats")
    p.add_argument("--compact-zorder-by", default=None,
                   help="comma-separated columns (>=2): Morton-cluster "
                        "each bucket during the in-stream fold so "
                        "windowed reads skip files on EVERY listed "
                        "dimension (e.g. warc_ts,url); exclusive with "
                        "--compact-sort-by")
    p.add_argument("--compact-rows-per-file", type=int, default=None,
                   help="split each clustered bucket into sorted "
                        "files of at most this many rows")
    p.add_argument("--max-files-per-bucket", type=int, default=1,
                   help="(--maintain) compact only buckets holding more "
                        "than this many files")
    p.add_argument("--expire-keep", type=int, default=None,
                   help="(--maintain) after compaction, expire snapshots "
                        "keeping the last N readable (tags always kept)")
    p.add_argument("--expire-older-than", type=float, default=None,
                   help="(--maintain, with --expire-keep) ALSO keep "
                        "every snapshot committed within the last N "
                        "seconds — age-based time-travel retention "
                        "with --expire-keep as the floor")
    p.add_argument("--gc-orphans-older-than", type=float, default=None,
                   help="(--maintain) after expiry, delete crash-stranded "
                        "files no snapshot references and older than "
                        "this many seconds")
    p.add_argument("--delete-where", default=None, metavar="SQL_EXPR",
                   help="(--maintain) predicate row-level delete "
                        "(LakeTable.delete_where) BEFORE compaction — "
                        "with --compact-*/--expire-keep/--gc-orphans-"
                        "older-than this one invocation is the full "
                        "GDPR erasure recipe: tombstone, fold, expire, "
                        "reclaim")
    p.add_argument("--update-where", default=None, metavar="SQL_EXPR",
                   help="(--maintain) predicate row-level update "
                        "(LakeTable.update_where); requires "
                        "--update-set. Runs quiesced by construction — "
                        "the maintenance job is the fence contract's "
                        "deployment shape")
    p.add_argument("--update-set", action="append", default=None,
                   metavar="COL=SQL_EXPR",
                   help="(--update-where) assignment, repeatable; the "
                        "expression sees the old row's columns")
    p.add_argument("--op-id", default=None, metavar="ID",
                   help="(--delete-where/--update-where) idempotence "
                        "id for the row op (LakeTable batch_id): "
                        "rerunning a crashed maintenance job with the "
                        "same --op-id makes an already-committed "
                        "correction a metadata no-op instead of "
                        "double-applying a non-idempotent assignment "
                        "(val = val + 1). Use a fresh id per intended "
                        "correction, e.g. a ticket number. With both "
                        "ops in one invocation, the update commits as "
                        "<ID>-u-1 and the delete as <ID>-d-1")
    p.add_argument("--envelope-dir", default=None,
                   help="(--stream, with --publish-envelopes-every) "
                        "publish Debezium-style JSON-Lines change "
                        "envelopes under this directory "
                        "(cdc/envelope.py); with --maintain or "
                        "--describe, the topic to maintain or describe")
    p.add_argument("--publish-envelopes-every", type=int, default=None,
                   help="(--stream) publish an envelope window every N "
                        "applied epochs (requires --envelope-dir)")
    p.add_argument("--bootstrap-snapshot", default=None,
                   help="parquet path of a consistent source snapshot: "
                        "seed a fresh table from it (one idempotent "
                        "bulk merge) before tailing the log — the "
                        "Debezium initial-snapshot phase (requires "
                        "--snapshot-lsn; cdc/bootstrap.py)")
    p.add_argument("--snapshot-lsn", type=int, default=None,
                   help="log position the bootstrap snapshot is "
                        "consistent at; ingest then skips events at or "
                        "below it (overridable with --from-lsn)")
    p.add_argument("--from-lsn", type=int, default=None,
                   help="skip WAL events at or below this log position "
                        "(default: the table's recorded bootstrap LSN, "
                        "if any)")
    p.add_argument("--avro-registry", default=None,
                   help="path to an Avro schema-registry dump (plain "
                        "{version: schema} map or a Confluent subject "
                        "dump); versions are resolved into the engine's "
                        "field-id registry at startup and drive "
                        "add/rename/widen evolution during ingest "
                        "(cdc/avro_registry.py) — incompatible dumps "
                        "fail here, before any stream starts")
    p.add_argument("--describe", action="store_true",
                   help="print a JSON ops report of the table's "
                        "bookkeeping (current version, refs, commit "
                        "summary, per-bucket file/delta-layer/bytes "
                        "rollup with backlog and skew signals) built "
                        "from the queryable metadata tables "
                        "(lake/metadata.py) and exit")
    p.add_argument("--view", action="append", default=None,
                   dest="views", metavar="ROOT",
                   help="root of an existing materialized aggregate / "
                        "distinct view of --table (cdc/ivm.py; "
                        "repeatable). --stream refreshes each view on "
                        "the applied-epoch cadence "
                        "(--refresh-views-every), batch replay and "
                        "--maintain refresh each once to the table "
                        "head — so view maintenance ships in the same "
                        "spark-submit shapes as ingest and compaction")
    p.add_argument("--refresh-views-every", type=int, default=None,
                   help="(--stream) advance every --view each N "
                        "applied epochs (requires --view; default 4 "
                        "when --view given)")
    p.add_argument("--compact-envelopes", action="store_true",
                   help="(--maintain, with --envelope-dir) topic log "
                        "compaction: squash adjacent published windows "
                        "to per-key winning envelopes (Kafka "
                        "cleanup.policy=compact analog); bound with "
                        "--compact-envelopes-upto")
    p.add_argument("--compact-envelopes-upto", type=int, default=None,
                   help="only compact windows ending at or below this "
                        "source version (default: all complete windows)")
    p.add_argument("--compact-envelopes-drop-tombstones",
                   action="store_true",
                   help="also drop winning delete envelopes (full key "
                        "scrub); requires every consumer to be past "
                        "the compacted span")
    p.add_argument("--expire-envelopes-to", type=int, default=None,
                   metavar="VERSION",
                   help="(--maintain, with --envelope-dir) topic "
                        "retention: delete complete envelope windows "
                        "ending at or below VERSION (the consumers' "
                        "low-water mark); newer windows and the "
                        "publish offset survive")
    p.add_argument("--consume-envelopes", default=None, metavar="DIR",
                   dest="consume_envelopes",
                   help="run as the REPLICA site: apply the envelope "
                        "topic under DIR to --table instead of "
                        "ingesting a WAL. With --stream (requires "
                        "--checkpoint) a Structured Streaming file "
                        "source tails the window dirs; without it the "
                        "window poller applies complete windows "
                        "exactly-once. The table must exist (replicas "
                        "are created from a snapshot bootstrap or an "
                        "empty create matching the source schema)")
    p.add_argument("--batch-prefix", default="replay",
                   help="(batch replay) idempotence-id prefix for this "
                        "pass ('{prefix}-{segment}'). Distinct replay "
                        "passes against the SAME table — a base load "
                        "then an update log — MUST use distinct "
                        "prefixes, or the second pass's ids collide "
                        "with the first's high-water mark and every "
                        "batch silently skips (cdc/replay.py contract); "
                        "a RESUMED pass must keep its prefix")
    p.add_argument("--branch", default=None, metavar="NAME",
                   help="ingest into this BRANCH of --table instead of "
                        "main (created at the current head if absent) — "
                        "the audit-branch deployment shape (Iceberg "
                        "spark.wap.branch analog): run the load against "
                        "the branch, audit its state, then publish "
                        "atomically with --maintain --fast-forward NAME "
                        "or discard with drop_branch")
    p.add_argument("--fast-forward", default=None, metavar="NAME",
                   dest="fast_forward",
                   help="(--maintain) publish branch NAME onto main as "
                        "one atomic commit (squash fast_forward) before "
                        "any compaction/expiry/GC in the same pass")
    p.add_argument("--key-bloom-bits", type=int, default=None,
                   help="record per-file key blooms of this many bits "
                        "in the manifest at every write (table-create "
                        "option); point lookups then skip bloom-missing "
                        "files including delta layers — size >=10 bits "
                        "per row-per-file")
    return p


def get_session() -> SparkSession:
    """Reuse the spark-submit session when present, else local factory.

    Under spark-submit the JVM gateway already exists
    (PYSPARK_GATEWAY_PORT is set by PythonRunner) and carries the
    submitted conf — master, executor sizing, --py-files — so the
    session MUST be built on it without re-pinning master; the local
    factory (which hard-sets ``local[N]``) is only for standalone
    ``python -m`` invocation."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return SparkSession.builder.appName("cdc-ingest").getOrCreate()
    from clinical_trials_etl_spark.session import get_spark

    return get_spark("cdc-ingest")


def main(argv: list[str] | None = None) -> dict:
    args = build_parser().parse_args(argv)
    spark = get_session()

    from clinical_trials_etl_spark.cdc.replay import create_pages_table, replay
    from clinical_trials_etl_spark.cdc.stream import lineage_report, run_stream
    from clinical_trials_etl_spark.lake.table import LakeTable

    if args.describe:
        if args.stream or args.maintain:
            raise SystemExit("--describe is exclusive with "
                             "--stream/--maintain")
        from pyspark.sql import functions as F

        from clinical_trials_etl_spark.lake import metadata as md

        table = LakeTable(spark, args.table)
        parts = md.partitions_df(table).collect()
        ops = {
            r["operation"]: r["n"]
            for r in md.snapshots_df(table)
            .groupBy("operation").agg(F.count("*").alias("n")).collect()
        }
        total_bytes = sum(r["total_bytes"] or 0 for r in parts)
        result = {
            "mode": "describe",
            "version": table.current_version(),
            "n_buckets": table.snapshot()["n_buckets"],
            "operations": ops,
            "refs": [r.asDict() for r in md.refs_df(table).collect()],
            "files": sum(r["file_count"] for r in parts),
            "delta_files": sum(r["delta_files"] for r in parts),
            "total_bytes": total_bytes,
            "total_records": sum(r["total_records"] or 0 for r in parts),
            # ops signals: compaction backlog = deepest delta stack;
            # skew = hottest bucket's share of bytes vs a uniform share
            "max_layers": max((r["layers"] for r in parts), default=0),
            "max_bucket_bytes_ratio": (
                round(max(r["total_bytes"] or 0 for r in parts)
                      * len(parts) / total_bytes, 2)
                if total_bytes else None),
        }
        if args.envelope_dir:
            from clinical_trials_etl_spark.cdc.envelope import (
                last_published,
                topic_windows_df,
            )

            wins = topic_windows_df(spark, args.envelope_dir).collect()
            result["topic"] = {
                "windows": len(wins),
                "complete": sum(1 for w in wins if w["complete"]),
                "bytes": sum(w["bytes"] for w in wins),
                "high_water": last_published(args.envelope_dir),
                "low_water": min(
                    (w["from_version"] for w in wins
                     if w["complete"]), default=None),
            }
        print(json.dumps(result))
        return result

    def _refresh_views(table: LakeTable) -> list[dict] | None:
        if not args.views:
            return None
        from clinical_trials_etl_spark.cdc.ivm import refresh_agg_view

        return [refresh_agg_view(table, LakeTable(spark, root))
                for root in args.views]

    if args.maintain:
        if args.stream:
            raise SystemExit("--maintain is exclusive with --stream")
        table = LakeTable(spark, args.table)
        result = {"mode": "maintain"}
        if args.fast_forward:
            result["fast_forward"] = table.fast_forward(args.fast_forward)
        row_op_mode = args.merge_mode or "delta"
        if args.update_where:
            if not args.update_set:
                raise SystemExit("--update-where requires --update-set")
            assignments = {}
            for spec in args.update_set:
                col, _, expr = spec.partition("=")
                if not _:
                    raise SystemExit(
                        f"--update-set wants COL=SQL_EXPR, got {spec!r}")
                assignments[col.strip()] = expr.strip()
            result["update_where"] = table.update_where(
                args.update_where, assignments, mode=row_op_mode,
                batch_id=(f"{args.op_id}-u-1" if args.op_id else None))
        if args.delete_where:
            result["delete_where"] = table.delete_where(
                args.delete_where, mode=row_op_mode,
                batch_id=(f"{args.op_id}-d-1" if args.op_id else None))
        compacted = table.compact(
            max_files_per_bucket=args.max_files_per_bucket,
            sort_by=args.compact_sort_by,
            zorder_by=(args.compact_zorder_by.split(",")
                       if args.compact_zorder_by else None),
            rows_per_file=args.compact_rows_per_file,
        )
        result["compact"] = compacted
        if (args.expire_keep is not None
                or args.expire_older_than is not None):
            # --expire-older-than alone implies the default keep_last
            # floor — it must never be silently ignored
            result["expire"] = table.expire_snapshots(
                keep_last=(2 if args.expire_keep is None
                           else args.expire_keep),
                older_than_s=args.expire_older_than)
        if args.gc_orphans_older_than is not None:
            result["gc"] = table.remove_orphans(
                older_than_s=args.gc_orphans_older_than)
        if ((args.compact_envelopes_upto is not None
             or args.compact_envelopes_drop_tombstones)
                and not args.compact_envelopes):
            raise SystemExit("--compact-envelopes-upto/"
                             "--compact-envelopes-drop-tombstones "
                             "require --compact-envelopes")
        if args.compact_envelopes:
            if not args.envelope_dir:
                raise SystemExit("--compact-envelopes requires "
                                 "--envelope-dir")
            from clinical_trials_etl_spark.cdc.envelope import \
                compact_envelope_windows

            result["compact_envelopes"] = compact_envelope_windows(
                table, args.envelope_dir,
                upto_version=args.compact_envelopes_upto,
                drop_tombstones=args.compact_envelopes_drop_tombstones)
        if args.expire_envelopes_to is not None:
            if not args.envelope_dir:
                raise SystemExit("--expire-envelopes-to requires "
                                 "--envelope-dir")
            from clinical_trials_etl_spark.cdc.envelope import \
                expire_envelope_windows

            result["expire_envelopes"] = expire_envelope_windows(
                args.envelope_dir, args.expire_envelopes_to)
        views = _refresh_views(table)
        if views is not None:
            result["views"] = views
        result["version"] = table.current_version()
        print(json.dumps(result))
        return result

    if args.consume_envelopes:
        if args.log_dir or args.branch:
            raise SystemExit("--consume-envelopes is exclusive with "
                             "--log-dir/--branch (a replica site only "
                             "reads the topic)")
        if not os.path.exists(os.path.join(args.table, "_meta",
                                           "_current")):
            raise SystemExit("--consume-envelopes needs an existing "
                             "--table (bootstrap the replica first)")
        table = LakeTable(spark, args.table)
        if args.stream:
            if not args.checkpoint:
                raise SystemExit("--consume-envelopes --stream "
                                 "requires --checkpoint")
            from clinical_trials_etl_spark.cdc.envelope import \
                run_envelope_stream

            result = {"mode": "consume-stream",
                      **run_envelope_stream(
                          spark, args.consume_envelopes, table,
                          args.checkpoint,
                          mode=args.merge_mode or "cow")}
        else:
            from clinical_trials_etl_spark.cdc.envelope import \
                apply_envelopes

            result = {"mode": "consume",
                      **apply_envelopes(
                          table, args.consume_envelopes,
                          mode=args.merge_mode or "cow")}
        views = _refresh_views(table)
        if views is not None:
            result["views"] = views
        print(json.dumps(result))
        return result

    if not args.log_dir:
        raise SystemExit("--log-dir is required unless "
                         "--maintain/--describe")
    if args.branch and args.views:
        raise SystemExit("--view is incompatible with --branch: views "
                         "track the MAIN table's commit chain — refresh "
                         "them after --maintain --fast-forward publishes "
                         "the branch")

    def _compact_schedule() -> list:
        """--compact-every's fold, clustered as --compact-* ask, for
        both --stream and batch replay."""
        if not args.compact_every:
            return []
        zorder = (args.compact_zorder_by.split(",")
                  if args.compact_zorder_by else None)
        return [(args.compact_every, lambda t: t.compact(
            sort_by=args.compact_sort_by, zorder_by=zorder,
            rows_per_file=args.compact_rows_per_file))]

    def _stream_maintenance() -> list:
        """--stream's maintenance schedule in the order run_stream
        documents: compaction, then view refreshes, then envelope
        publishes. A cadence flag without its target, or an envelope
        directory without its cadence, is a usage error."""
        if args.publish_envelopes_every and not args.envelope_dir:
            raise SystemExit("--publish-envelopes-every requires "
                             "--envelope-dir")
        if args.envelope_dir and not args.publish_envelopes_every:
            raise SystemExit("--stream --envelope-dir requires "
                             "--publish-envelopes-every")
        if args.refresh_views_every and not args.views:
            raise SystemExit("--refresh-views-every requires --view")
        schedule = _compact_schedule()
        if args.views:
            from clinical_trials_etl_spark.cdc.ivm import refresh_agg_view

            views = [LakeTable(spark, r) for r in args.views]
            schedule.append((args.refresh_views_every or 4, lambda t: [
                refresh_agg_view(t, v) for v in views]))
        if args.publish_envelopes_every:
            from clinical_trials_etl_spark.cdc.envelope import (
                publish_envelope_window,
            )

            schedule.append((args.publish_envelopes_every, lambda t:
                             publish_envelope_window(t, args.envelope_dir)))
        return schedule

    maintenance = _stream_maintenance() if args.stream else None

    def _ingest_target(table: LakeTable) -> LakeTable:
        """Main, or the audit branch (created at the head if absent)."""
        if not args.branch:
            return table
        if args.branch not in table.branches():
            table.create_branch(args.branch)
        return table.branch(args.branch)
    registry = None
    if args.avro_registry:
        from clinical_trials_etl_spark.cdc.avro_registry import \
            load_avro_registry

        registry = load_avro_registry(args.avro_registry)

    from clinical_trials_etl_spark.cdc.bootstrap import (
        bootstrap_from_snapshot,
        bootstrap_lsn,
    )

    min_lsn = args.from_lsn
    if args.bootstrap_snapshot:
        if args.snapshot_lsn is None:
            raise SystemExit("--bootstrap-snapshot requires --snapshot-lsn")
        bootstrap_from_snapshot(
            spark, spark.read.parquet(args.bootstrap_snapshot),
            args.table, args.snapshot_lsn,
            n_buckets=args.n_buckets, registry=registry,
            merge_mode=args.merge_mode or "cow",
            key_bloom_bits=args.key_bloom_bits,
        )
        if min_lsn is None:
            min_lsn = args.snapshot_lsn
    elif min_lsn is None and os.path.exists(
            os.path.join(args.table, "_meta", "_current")):
        min_lsn = bootstrap_lsn(LakeTable(spark, args.table))
    if args.stream:
        if not args.checkpoint:
            raise SystemExit("--stream requires --checkpoint")
        if os.path.exists(os.path.join(args.table, "_meta", "_current")):
            table = LakeTable(spark, args.table)
        else:
            table = create_pages_table(spark, args.table, args.n_buckets,
                                       key_bloom_bits=args.key_bloom_bits)
        table = _ingest_target(table)
        progress = run_stream(
            spark,
            args.log_dir,
            table,
            args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
            metrics_path=args.metrics,
            merge_mode=args.merge_mode or "cow",
            maintenance=maintenance,
            registry=registry,
            min_lsn=min_lsn,
        )
        # converge views to the final head (the in-stream cadence may
        # stop short of the last epochs)
        views = _refresh_views(table)
        result = {
            "mode": "stream",
            "batches": len(progress),
            "version": table.current_version(),
            "rows": table.read().count(),
            "lineage_commits": len(lineage_report(table)),
            **({"branch": args.branch} if args.branch else {}),
        }
        if views is not None:
            result["views"] = views
    else:
        target = None
        if args.branch:
            if os.path.exists(os.path.join(args.table, "_meta",
                                           "_current")):
                base = LakeTable(spark, args.table)
            else:
                base = create_pages_table(
                    spark, args.table, args.n_buckets,
                    key_bloom_bits=args.key_bloom_bits)
            target = _ingest_target(base)
        table = replay(spark, args.log_dir, args.table,
                       n_buckets=args.n_buckets,
                       merge_mode=args.merge_mode or "cow",
                       maintenance=_compact_schedule(),
                       key_bloom_bits=args.key_bloom_bits,
                       registry=registry, min_lsn=min_lsn,
                       batch_prefix=args.batch_prefix,
                       table=target)
        views = _refresh_views(table)
        result = {
            "mode": "replay",
            "version": table.current_version(),
            "rows": table.read().count(),
            **({"branch": args.branch} if args.branch else {}),
        }
        if views is not None:
            result["views"] = views
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main(sys.argv[1:])
