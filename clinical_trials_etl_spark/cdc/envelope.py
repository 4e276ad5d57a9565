"""Change-feed export as Debezium-style JSON envelopes.

The feed side of the CDC story so far points INTO the lake
(``changes()`` / ``changes_window()`` feed mirrors and incremental
views). This module points OUT: it renders a feed window as the
interchange format the wider CDC ecosystem consumes — one JSON object
per (key, commit) with ``before`` / ``after`` images, a Debezium op
code, the commit wall-clock, and a ``source`` block carrying the
table, LSN and snapshot version (Debezium's envelope contract;
concepts from the public Debezium documentation — no Debezium code).
Anything that reads Debezium topics (warehouse loaders, cache
invalidators, search indexers) can then tail this table without
speaking the lake format.

Shape per row (JSON Lines, one envelope per line):

    {"before": {...}|null, "after": {...}|null,
     "op": "c"|"u"|"d", "ts_ms": <commit epoch millis>,
     "source": {"table": ..., "lsn": ..., "version": <commit>}}

Scale shape: one column-pruned feed read + one groupBy on
(key, commit) to pair pre/post images + a distributed JSON write —
O(changes in window), never O(table); no driver-side rows. Binary
columns follow Spark's JSON writer convention (base64).

The reference has no change-export surface at all — consumers re-poll
full collections (trials_extractor/storage/mongodb_storage.py); this
is the incremental replacement for that polling.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clinical_trials_etl_spark.lake.table import LakeTable, _spark_type

_AFTER_TYPES = ("insert", "update_postimage")
_BEFORE_TYPES = ("update_preimage", "delete")


def changes_envelope(
    source: LakeTable,
    from_version: int,
    to_version: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """The feed window ``(from_version, to_version]`` as one envelope
    row per (key, commit): ``before`` / ``after`` structs, Debezium
    ``op`` (c=create, u=update, d=delete), ``ts_ms`` commit time,
    ``source`` provenance. Built on ``changes(pre_images=True)`` so a
    key touched in K commits yields K envelopes in commit order —
    the per-commit granularity downstream appliers expect.

    ``source.lsn`` is the after-image's LSN; for deletes (no after
    image) it is the deleted row's final pre-image LSN — the image
    feed's convention (a tombstone's own LSN is not an image).
    Consumers order by (ts_ms, source.version), which is total and
    commit-accurate either way.

    ``source.schema_ver`` stamps the registry schema version the
    payload is rendered at (the whole window renders at
    ``to_version``'s schema, so one version describes it) — the
    Debezium-schema-registry analog that lets a long-lived topic
    outlive schema evolution: consumers parse each window at ITS
    version and resolve renames/widens by field id
    (see ``apply_envelopes``)."""
    cur = source.current_version()
    if to_version is None:
        to_version = cur
    feed = source.changes(
        from_version, to_version, columns=columns, pre_images=True)
    key = source.key_field()
    data_cols = [c for c in feed.columns
                 if c not in ("_lsn", "_change_type", "_commit_version")]
    payload = F.struct(*[F.col(c) for c in data_cols])
    img = F.struct(F.col("_lsn").alias("lsn"), payload.alias("p"))

    # at most one after-image and one before-image row exist per
    # (key, commit) — max() just selects the single non-null struct
    agg = (
        feed.groupBy(F.col(key).alias("_k"), F.col("_commit_version"))
        .agg(
            F.max(F.when(F.col("_change_type").isin(*_AFTER_TYPES), img))
            .alias("_aft"),
            F.max(F.when(F.col("_change_type").isin(*_BEFORE_TYPES), img))
            .alias("_bef"),
            F.max(F.col("_change_type") == "delete").alias("_is_del"),
        )
    )

    # commit wall-clock: bounded driver-side metadata (one snapshot
    # JSON per commit in the window), attached as a broadcast-joined
    # two-column frame — NOT a literal map, whose expression tree
    # would grow with the window (a bootstrap export over 10^5
    # commits must not build a 10^5-entry plan node)
    ts_rows = [
        (v, int(source.snapshot(v)["committed_at"] * 1000))
        for v in range(from_version + 1, to_version + 1)
    ]
    ts_df = source.spark.createDataFrame(
        ts_rows, "_commit_version long, ts_ms long")
    agg = agg.join(F.broadcast(ts_df), "_commit_version", "left")

    op = (
        F.when(F.col("_is_del"), F.lit("d"))
        .when(F.col("_bef").isNull(), F.lit("c"))
        .otherwise(F.lit("u"))
    )
    sver = source.registry_version(source.snapshot(to_version))
    return agg.select(
        F.col("_bef.p").alias("before"),
        F.when(F.col("_is_del"), F.lit(None)).otherwise(F.col("_aft.p"))
        .alias("after"),
        op.alias("op"),
        F.col("ts_ms"),
        F.struct(
            F.lit(source.root).alias("table"),
            F.coalesce(F.col("_aft.lsn"), F.col("_bef.lsn")).alias("lsn"),
            F.col("_commit_version").alias("version"),
            F.lit(sver).cast("long").alias("schema_ver"),
        ).alias("source"),
    )


def export_changes_envelope(
    source: LakeTable,
    out_dir: str,
    from_version: int,
    to_version: int | None = None,
    columns: list[str] | None = None,
    mode: str = "overwrite",
) -> dict:
    """Write the envelope feed as JSON Lines under ``out_dir`` —
    distributed executor-side writes, one object per line, ready for
    any Debezium-speaking consumer. Returns the window exported so a
    caller can persist its own offset; for exactly-once delivery INTO
    a LakeTable use ``cdc.mirror`` instead (its offset commits
    atomically with the data)."""
    cur = source.current_version()
    if to_version is None:
        to_version = cur
    changes_envelope(source, from_version, to_version, columns) \
        .write.mode(mode).json(out_dir)
    return {"from_version": from_version, "to_version": to_version,
            "path": out_dir}


# -------------------------------------------- incremental publishing

_WINDOW_RE = re.compile(r"^window-(\d{8})-(\d{8})$")


def last_published(out_dir: str) -> int:
    """The highest source version a COMPLETE window under ``out_dir``
    has exported; -1 before the first publish. A window directory
    counts only once Spark's ``_SUCCESS`` marker exists — a crash
    mid-write leaves no marker, so the next publish re-covers that
    span. The directory listing IS the durable offset: no side file
    to desync from the data."""
    best = -1
    if not os.path.isdir(out_dir):
        return best
    for fn in os.listdir(out_dir):
        m = _WINDOW_RE.match(fn)
        if m and os.path.exists(os.path.join(out_dir, fn, "_SUCCESS")):
            best = max(best, int(m.group(2)))
    return best


def _list_complete_windows(out_dir: str) -> list[tuple[int, int, str]]:
    """Every complete (``_SUCCESS``-marked) window under ``out_dir``
    as sorted ``(from_version, to_version, dirname)`` tuples — the one
    window-scan every topic operation shares."""
    out = []
    if os.path.isdir(out_dir):
        for fn in sorted(os.listdir(out_dir)):
            m = _WINDOW_RE.match(fn)
            if m and os.path.exists(os.path.join(out_dir, fn, "_SUCCESS")):
                out.append((int(m.group(1)), int(m.group(2)), fn))
    out.sort()
    return out


# _probe_window_versions' answer for a window whose rows carry no
# stamped version (legacy): never equal to a registry version, so such
# a window never joins a stamped run
_UNSTAMPED = -1


def _probe_window_versions(spark, paths: list[str]) -> dict[str, int]:
    """One slim job over ``paths`` (window directories) answering each
    window's stamped ``source.schema_ver`` — keyed by directory
    basename. A window with rows but no stamped version (legacy) maps
    to ``_UNSTAMPED``; an empty window (maintenance-only publish) is
    absent from the result."""
    if not paths:
        return {}
    rows = (spark.read.schema(_SLIM_VER_SCHEMA)
            .json(paths)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.max("source.schema_ver").alias("v"))
            .collect())
    out: dict[str, int] = {}
    for r in rows:
        d = os.path.basename(os.path.dirname(
            unquote(urlparse(r["f"]).path)))
        v = _UNSTAMPED if r["v"] is None else int(r["v"])
        out[d] = max(v, out.get(d, _UNSTAMPED))
    return out


def publish_envelope_window(source: LakeTable, out_dir: str) -> dict | None:
    """Publish the next envelope window: versions
    ``(last_published, current]`` into
    ``out_dir/window-<from>-<to>/`` as JSON Lines. Returns None when
    the table hasn't moved. Crash-safe without a transaction: the
    ``_SUCCESS`` marker commits the window, an unmarked directory is
    retried (overwritten) by the next call, and a retry after the
    table advanced simply publishes a wider window covering the same
    span — consumers dedupe on (source.version, key), which is exact.
    Windows with only maintenance commits publish empty (the offset
    still advances, so pollers don't re-diff them forever)."""
    a = last_published(out_dir)
    if a < 0:
        a = 0  # v0 is the empty create snapshot — nothing before it
    b = source.current_version()
    if b <= a:
        return None
    path = os.path.join(out_dir, f"window-{a:08d}-{b:08d}")
    return export_changes_envelope(source, path, a, b)


# ----------------------------------------------- consuming (inbound)


def _envelope_schema_for(fields: list[dict]) -> T.StructType:
    payload_t = T.StructType(
        [T.StructField(f["name"], _spark_type(f["type"]))
         for f in fields])
    return T.StructType([
        T.StructField("before", payload_t),
        T.StructField("after", payload_t),
        T.StructField("op", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("source", T.StructType([
            T.StructField("table", T.StringType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("version", T.LongType()),
            T.StructField("schema_ver", T.LongType()),
        ])),
    ])


def _envelope_schema(target: LakeTable) -> T.StructType:
    return _envelope_schema_for(target.fields())


def _slim_probe_schema(key: str, key_type: str) -> T.StructType:
    """One narrow read answers BOTH group questions — each window's
    schema version and its dead-letter count — so the poller pays a
    single probe job per commit group, not one per window."""
    img = T.StructType([T.StructField(key, _spark_type(key_type))])
    return T.StructType([
        T.StructField("before", img),
        T.StructField("after", img),
        T.StructField("op", T.StringType()),
        T.StructField("source", T.StructType([
            T.StructField("lsn", T.LongType()),
            T.StructField("schema_ver", T.LongType()),
        ])),
        T.StructField(_CORRUPT, T.StringType()),
    ])


_SLIM_VER_SCHEMA = T.StructType([T.StructField("source", T.StructType(
    [T.StructField("schema_ver", T.LongType())]))])


def _window_schema_ver(spark, path: str) -> int | None:
    """The registry schema version a window was published at (None for
    windows written before stamping existed). One slim column crosses
    the scan."""
    v = (spark.read.schema(_SLIM_VER_SCHEMA).json(path)
         .agg(F.max("source.schema_ver")).first()[0])
    return None if v is None else int(v)


def _evolve_to_ver(target: LakeTable, ver: int, registry: dict | None):
    from clinical_trials_etl_spark.cdc import registry as reg

    cur = target.fields()
    ops = reg.diff(cur, reg.schema_for_version(ver, registry))
    if ops:
        target.evolve(reg.apply_ops(cur, ops),
                      note=f"registry v{ver} via envelope topic: {ops}",
                      registry_ver=ver)


_CORRUPT = "_corrupt_envelope"


def _read_window_split(spark, path, wfields: list[dict], key: str):
    """Read a window's JSONL with a dead-letter split: returns
    (good_df, bad_df). Bad = lines that failed JSON parsing
    (PERMISSIVE mode routes them to the corrupt-record column instead
    of nulling silently or failing the whole window) plus
    schema-valid-but-semantically-broken envelopes (no op, no lsn, or
    a null key in both images) — rows that would otherwise merge a
    null-key row into the replica. ``bad_df`` carries the raw line
    when available."""
    schema = _envelope_schema_for(wfields).add(_CORRUPT, T.StringType())
    df = (spark.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", _CORRUPT)
          .json(path))
    bad_pred = (
        F.col(_CORRUPT).isNotNull()
        | F.col("op").isNull()
        | F.col("source.lsn").isNull()
        | (F.col(f"after.{key}").isNull()
           & F.col(f"before.{key}").isNull())
    )
    return df.filter(~bad_pred).drop(_CORRUPT), df.filter(bad_pred)


def _envelopes_to_batch(df: DataFrame) -> DataFrame:
    """Envelope rows -> the (payload, lsn, op) shape LakeTable.merge
    consumes. Deletes carry the pre-image (publish-side convention);
    the tombstone ties that LSN and wins the tie by the shared
    (lsn, deleted) rule."""
    img = F.coalesce(F.col("after"), F.col("before")).alias("_img")
    return df.select(
        img,
        F.col("source.lsn").alias("lsn"),
        F.when(F.col("op") == "d", F.lit("D"))
        .when(F.col("op") == "c", F.lit("I"))
        .otherwise(F.lit("U")).alias("op"),
    ).select("_img.*", "lsn", "op")


def apply_envelopes(target: LakeTable, env_dir: str,
                    mode: str = "cow",
                    registry: dict | None = None,
                    quarantine_dir: str | None = None,
                    windows_per_commit: int | None = None) -> dict:
    """Apply every complete, not-yet-applied envelope window under
    ``env_dir`` to ``target``, in window order — the consumer half of
    the publish protocol, replicating a table across sites through
    nothing but the published directories (object storage instead of
    a message broker).

    Exactly-once without a side checkpoint: each commit merges with
    ``batch_id="env-<to_version of its last window>"``, so the applied
    offset is the target's own per-prefix high-water mark, committed
    atomically with the data (the cdc/mirror.py mechanism, pointed at
    files). Re-running after success is a metadata no-op; a crash
    mid-commit re-merges its windows idempotently.

    ``windows_per_commit``: how many pending windows fold into one
    MERGE. Default None = ALL pending windows in a single commit — the
    keyed max-(lsn, deleted) rule makes the union-then-merge exactly
    equivalent to merging window-by-window, and a lagging consumer
    catches up paying ONE per-commit fixed cost instead of one per
    window (measured 4x on an 8-window backlog, BENCH/BASELINE.md
    "envelope pipeline throughput"
    — the same fixed-cost floor the IVM window feed eliminated). Pass
    1 for per-window commit granularity (window-level lineage and
    time travel on the replica).

    Delete envelopes carry the pre-image LSN (the publish-side
    convention); the replica's tombstone ties that LSN and wins the
    tie by the shared (lsn, deleted) rule, so live-row state converges
    to the source's even though replica tombstone LSNs are not
    byte-identical to the source's.

    Schema evolution mid-topic is registry-driven (Debezium's
    schema-registry role, played by ``cdc/registry``): each window is
    PARSED at the schema version it was published at
    (``source.schema_ver``), the replica is evolved forward when a
    window is ahead of it, and the parsed payload is projected onto
    the replica's current columns BY FIELD ID — renames resolve to the
    current name, widens cast up, fields added after the window fill
    null. Windows stamped at the replica's own version (and legacy
    unstamped windows) take the fast path: parsed directly at the
    current schema. Non-registry (ad-hoc) evolution keeps the old
    contract: evolve the replica manually before applying.

    Malformed lines (truncated uploads, bit rot — topics cross sites
    on object storage) dead-letter instead of poisoning the replica:
    unparseable JSON and semantically broken envelopes (no op/lsn,
    null key in both images) are counted per window, written under
    ``quarantine_dir`` when given (raw lines preserved for forensics),
    and excluded from the merge — the window still applies and the
    offset still advances (quarantine is visible in the result and the
    commit lineage, so the gap is auditable, not silent)."""
    applied_hwm = int(target.snapshot()["batch_hwm"].get("env-", -1))
    windows = _list_complete_windows(env_dir)
    pending = [(a, b, fn) for a, b, fn in windows if b > applied_hwm]
    step = windows_per_commit or max(1, len(pending))
    groups = [pending[i:i + step] for i in range(0, len(pending), step)]

    applied = 0
    windows_done = 0
    quarantined = 0
    key = target.key_field()
    key_type = next(f["type"] for f in target.fields()
                    if f["name"] == key)
    for group in groups:
        # ONE slim probe over the whole group (grouped by window
        # directory) answers both per-window schema version and
        # dead-letter count — no peek job per window; then evolve
        # ONCE to the group's max and parse each window at its own
        # version, projecting by field id. The probe reads the
        # fork-era key under its CURRENT name; renamed-key windows
        # would flag their rows bad here, but key renames are not a
        # registry op the engine admits (the merge key is fixed).
        paths = [os.path.join(env_dir, fn) for _a, _b, fn in group]
        probe_bad = (
            F.col(_CORRUPT).isNotNull()
            | F.col("op").isNull()
            | F.col("source.lsn").isNull()
            | (F.col(f"after.{key}").isNull()
               & F.col(f"before.{key}").isNull())
        )
        rows = (target.spark.read
                .schema(_slim_probe_schema(key, key_type))
                .option("mode", "PERMISSIVE")
                .option("columnNameOfCorruptRecord", _CORRUPT)
                .json(paths)
                .groupBy(F.input_file_name().alias("f"))
                .agg(F.max("source.schema_ver").alias("v"),
                     F.sum(probe_bad.cast("long")).alias("nb"))
                .collect())
        by_dir: dict[str, int | None] = {}
        bad_by_dir: dict[str, int] = {}
        for r in rows:
            d = os.path.basename(os.path.dirname(
                unquote(urlparse(r["f"]).path)))
            v = None if r["v"] is None else int(r["v"])
            cur = by_dir.get(d)
            if cur is None or (v is not None and v > cur):
                by_dir[d] = v
            bad_by_dir[d] = bad_by_dir.get(d, 0) + int(r["nb"] or 0)
        vers = {fn: by_dir.get(fn) for _a, _b, fn in group}
        tver = target.registry_version(registry=registry)
        group_max = max((v for v in vers.values() if v is not None),
                        default=None)
        if group_max is not None and group_max > tver:
            _evolve_to_ver(target, group_max, registry)
            tver = group_max
        cur_fields = target.fields()
        parts = []
        group_bad = 0
        for _a, b, fn in group:
            path = os.path.join(env_dir, fn)
            ver = vers[fn]
            if ver is not None and ver != tver:
                from clinical_trials_etl_spark.cdc import registry as reg

                wfields = reg.schema_for_version(ver, registry)
            else:
                wfields = cur_fields
            df, bad = _read_window_split(
                target.spark, path, wfields, key)
            n_bad = bad_by_dir.get(fn, 0)
            if n_bad and quarantine_dir:
                bad.write.mode("append").json(
                    os.path.join(quarantine_dir, fn))
            group_bad += n_bad
            batch = _envelopes_to_batch(df)
            # project onto the replica's CURRENT columns by field id:
            # renames resolve, widens cast up, later adds fill null
            w_by_id = {f["id"]: f for f in wfields}
            parts.append(batch.select(
                *[
                    (F.col(w_by_id[f["id"]]["name"])
                     if f["id"] in w_by_id else F.lit(None))
                    .cast(_spark_type(f["type"])).alias(f["name"])
                    for f in cur_fields
                ],
                "lsn", "op",
            ))
        quarantined += group_bad
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        last_b = group[-1][1]
        res = target.merge(
            union, batch_id=f"env-{last_b}", mode=mode,
            lineage={"type_detail": "apply_envelopes",
                     "windows": [fn for _a, _b, fn in group],
                     **({"quarantined": group_bad}
                        if group_bad else {})})
        if not res.get("skipped"):
            applied += 1
            windows_done += len(group)
    return {"windows_applied": windows_done,
            "commits": applied,
            "quarantined": quarantined,
            "replica_version": target.current_version(),
            "applied_through": max(
                [b for _a, b, _f in windows] + [applied_hwm])}


def run_envelope_stream(
    spark,
    env_dir: str,
    target: LakeTable,
    checkpoint_dir: str,
    mode: str = "cow",
    max_files_per_trigger: int = 16,
    registry: dict | None = None,
    quarantine_dir: str | None = None,
    fail_after_batches: int | None = None,
) -> dict:
    """Tail the envelope topic with Structured Streaming — the
    always-on twin of :func:`apply_envelopes` (which polls complete
    windows): the replica converges continuously as the publisher
    appends window directories, through nothing but shared object
    storage.

    A checkpointed file source watches ``env_dir/window-*`` (new
    window directories are discovered by the per-trigger listing;
    ``_SUCCESS`` markers are underscore-hidden from the reader) and
    each micro-batch merges with ``batch_id="envstream-<epoch>"``
    through the normal exactly-once foreachBatch contract.

    Delivery here is at-least-once at ROW granularity rather than
    window granularity — a crashed publish's partial part-files may be
    read before the retry's (uniquely-named) replacements, and windows
    may interleave across epochs — and that is SAFE by construction:
    the merge folds every row through the keyed max-(lsn, deleted)
    rule, which is order-insensitive and duplicate-idempotent, so the
    replica converges to the source's live-row state no matter how the
    file source slices the topic (same argument as the raw
    ``changes(net=False)`` feed; pinned in tests/test_envelope.py).
    The trade vs the window poller: convergence without polling and no
    window-boundary latency, in exchange for transiently visible
    mid-window states (each micro-batch is still one atomic commit).

    Runs with ``availableNow`` semantics: processes everything
    published so far, then returns (re-invoke on a cadence, or wrap in
    a long-lived driver for continuous tailing — same deployment shape
    as run_stream). Returns {epochs, replica_version, rows}.

    Schema evolution mid-topic: the file source's read schema is fixed
    per invocation (the replica's current fields), so an epoch whose
    max ``source.schema_ver`` is AHEAD of the replica raises before
    merging (offsets un-checkpointed), the replica is evolved forward
    through the registry, and the stream restarts — the re-delivered
    epoch re-parses at the evolved schema, losslessly. A window BEHIND
    the replica is fine as long as no rename/widen separates the two
    versions (json parses missing added fields as null, which is
    correct); when one does, the fixed read schema would silently null
    the renamed column, so the stream refuses and points at the
    window-granular poller (``apply_envelopes``), which parses per
    window version.

    Malformed lines dead-letter exactly as in the poller: counted,
    optionally appended under ``quarantine_dir`` (at-least-once across
    epoch retries — forensics, not state), and excluded from the merge
    so corruption neither fails the epoch nor plants null-key rows."""
    applied = {"n": 0, "quarantined": 0}

    while True:
        tver = target.registry_version(registry=registry)
        ahead: dict[str, int] = {}
        key = target.key_field()

        def handle(batch_df, epoch_id: int):
            # dead-letter split first (same predicate as the poller):
            # a malformed line must neither fail the epoch nor merge a
            # null-key row. Quarantine appends are at-least-once under
            # epoch retries — forensic data, not state.
            bad_pred = (
                F.col(_CORRUPT).isNotNull()
                | F.col("op").isNull()
                | F.col("source.lsn").isNull()
                | (F.col(f"after.{key}").isNull()
                   & F.col(f"before.{key}").isNull())
            )
            # one probe job per epoch answers schema bounds AND the
            # dead-letter count; the quarantine re-scan only runs in
            # the rare corrupt case
            vs = batch_df.agg(
                F.min("source.schema_ver"), F.max("source.schema_ver"),
                F.sum(bad_pred.cast("long")),
            ).first()
            n_bad = int(vs[2] or 0)
            if n_bad:
                applied["quarantined"] += n_bad
                if quarantine_dir:
                    batch_df.filter(bad_pred).write.mode("append").json(
                        os.path.join(quarantine_dir,
                                     f"epoch-{epoch_id}"))
            batch_df = batch_df.filter(~bad_pred).drop(_CORRUPT)
            mn = None if vs[0] is None else int(vs[0])
            mx = None if vs[1] is None else int(vs[1])
            if mx is not None and mx > tver:
                # parsed at an older schema — do NOT merge; evolve and
                # re-deliver (offsets for this epoch never checkpoint)
                ahead["ver"] = mx
                raise RuntimeError(f"envelope schema_ver {mx} ahead of "
                                   f"replica v{tver}")
            if mn is not None and mn < tver:
                from clinical_trials_etl_spark.cdc import registry as reg

                lossy = [o for o in reg.diff(
                    reg.schema_for_version(mn, registry),
                    reg.schema_for_version(tver, registry))
                    if o["op"] in ("rename", "widen")]
                if lossy:
                    raise ValueError(
                        f"window published at schema_ver {mn} and a "
                        f"rename/widen separates it from the replica's "
                        f"v{tver} — the fixed streaming read schema "
                        f"cannot parse it losslessly; apply history "
                        f"with apply_envelopes (per-window schemas), "
                        f"then stream from there")
            res = target.merge(
                _envelopes_to_batch(batch_df),
                batch_id=f"envstream-{epoch_id}",
                mode=mode,
                lineage={"type_detail": "envelope_stream",
                         "epoch": epoch_id},
            )
            if not res.get("skipped"):
                applied["n"] += 1
            if (fail_after_batches is not None
                    and applied["n"] >= fail_after_batches):
                # fault injection (same contract as run_stream's):
                # crash AFTER the replica's lake commit but BEFORE
                # Structured Streaming checkpoints this epoch's
                # offsets — the worst-case window; the resumed run
                # re-delivers the epoch and the ledger no-ops it
                raise RuntimeError(
                    f"injected crash after applied epoch {epoch_id} "
                    "(replica committed, offsets not)")

        query = (
            spark.readStream
            .schema(_envelope_schema(target).add(_CORRUPT, T.StringType()))
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", _CORRUPT)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .json(os.path.join(env_dir, "window-*"))
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        try:
            query.awaitTermination()
        except Exception:
            if "ver" in ahead:
                _evolve_to_ver(target, ahead["ver"], registry)
                continue  # restart; the epoch re-parses evolved
            raise
        break
    return {
        "epochs": applied["n"],
        "quarantined": applied["quarantined"],
        "replica_version": target.current_version(),
        "rows": target.read().count(),
    }


def expire_envelope_windows(out_dir: str,
                            keep_after_version: int) -> dict:
    """Topic retention: delete complete windows whose span ends at or
    before ``keep_after_version`` (Kafka segment retention's role).
    The caller picks the low-water mark from its consumers — e.g. the
    min of every replica's ``applied_through`` / stream checkpoint
    position; a conservative deployment keeps
    ``source.current_version() - N``.

    Only COMPLETE windows (with ``_SUCCESS``) are swept — an
    in-flight publish is never raced — and ``last_published`` keeps
    returning the high-water mark afterwards because retention only
    removes the PREFIX of the window sequence: the newest windows
    stay. A late consumer that lost its prefix must re-bootstrap from
    a snapshot (``cdc/bootstrap.py``) and tail from there — the same
    contract as any log-compacted topic."""
    removed = 0
    kept = 0
    if not os.path.isdir(out_dir):
        return {"removed_windows": 0, "kept_windows": 0}
    for fn in sorted(os.listdir(out_dir)):
        m = _WINDOW_RE.match(fn)
        if not m:
            continue
        path = os.path.join(out_dir, fn)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            kept += 1
            continue
        if int(m.group(2)) <= keep_after_version:
            shutil.rmtree(path, ignore_errors=True)
            removed += 1
        else:
            kept += 1
    return {"removed_windows": removed, "kept_windows": kept}


def compact_envelope_windows(source: LakeTable, out_dir: str,
                             upto_version: int | None = None,
                             drop_tombstones: bool = False) -> dict:
    """Topic log compaction (Kafka ``cleanup.policy=compact``): squash
    runs of adjacent complete windows into one window holding each
    key's WINNING envelope — the same max-``(lsn, op='d')`` rule every
    consumer folds with, so applying the compacted window converges a
    replica to exactly the state the original run produced. Retention
    (``expire_envelope_windows``) serves consumers that are caught up;
    compaction serves the topic's other job — state transfer to late
    joiners — by shrinking the replay to O(live keys) instead of
    O(events) without requiring a snapshot bootstrap. Superseded
    intermediate envelopes are discarded (per-commit history
    granularity is traded away — Kafka compaction's exact contract);
    this also scrubs superseded payloads from the topic, the
    topic-side half of the ``delete_where`` GDPR recipe.

    Winners are kept as VERBATIM raw lines (one text read, one
    ``max_by`` per key, one text write — no re-encoding, so
    byte-stability of envelopes across compaction is trivial), which
    is why a run never crosses a ``source.schema_ver`` boundary:
    consumers parse each window at its single stamped version, so
    runs are maximal same-version spans (version probed with one slim
    job over all candidates). Malformed lines are carried through
    verbatim — compaction must not destroy dead-letter evidence.

    Crash-safe with no gap, ever: the squashed window is written to a
    temp dir, renamed to ``window-<first a>-<last b>`` (a name no
    single constituent uses — runs are >=2 windows), and only THEN
    are the constituents deleted. A crash in between leaves
    overlapping coverage, which consumers dedupe idempotently (the
    same property a wider retry window already relies on); a missing
    middle can never occur — and the next compaction pass FINISHES
    the interrupted cleanup: its startup sweep deletes any complete
    window fully covered by another complete window, so the span
    becomes run-eligible again instead of staying fragmented.

    ``upto_version``: only compact windows whose span ends at or
    below it (default: every complete window). The active tail
    window is naturally excluded unless you pass its end explicitly.

    ``drop_tombstones``: also drop winning DELETE envelopes entirely
    (full key scrub). Same precondition as tombstone-dropping
    compaction on the table: every consumer's applied offset must be
    past the compacted span, otherwise a resuming consumer that held
    the key from the old prefix would never learn it died — gate
    ``upto_version`` on the consumer low-water mark exactly as
    ``expire_envelope_windows`` documents."""
    spark = source.spark
    key = source.key_field()
    key_type = next(f["type"] for f in source.fields()
                    if f["name"] == key)

    # startup sweep: a crash between a prior compaction's rename and
    # its constituent deletes leaves complete windows fully covered by
    # another complete window — harmless to consumers (idempotent
    # fold) but it blocks the span from ever forming a run again, and
    # every late joiner replays it twice. Finish the interrupted
    # delete here, and drop the temp output of a compaction that died
    # before its rename.
    for fn in os.listdir(out_dir) if os.path.isdir(out_dir) else []:
        if fn.startswith(".compact-tmp-"):
            shutil.rmtree(os.path.join(out_dir, fn), ignore_errors=True)
    all_wins = _list_complete_windows(out_dir)
    swept = 0
    for a, b, fn in all_wins:
        if any(oa <= a and b <= ob and ofn != fn
               for oa, ob, ofn in all_wins):
            shutil.rmtree(os.path.join(out_dir, fn),
                          ignore_errors=True)
            swept += 1
    if swept:
        all_wins = _list_complete_windows(out_dir)

    windows = [(a, b, fn) for a, b, fn in all_wins
               if upto_version is None or b <= upto_version]
    if len(windows) < 2:
        return {"runs_compacted": 0, "windows_in": 0,
                "overlaps_swept": swept}

    # one slim probe over every candidate gives each window's stamped
    # schema version (same job shape as apply_envelopes' group probe)
    ver_by_dir = _probe_window_versions(
        spark, [os.path.join(out_dir, fn) for _a, _b, fn in windows])

    # maximal runs: contiguous spans (a == previous b) whose stamped
    # versions are COMPATIBLE — an empty window (maintenance-only
    # publish, absent from the probe) has no rows to parse, so it
    # joins a run at any version instead of fragmenting the topic
    # around every maintenance pass; a legacy window's rows would be
    # parsed at the run's version, so _UNSTAMPED only matches itself
    runs: list[list[tuple[int, int, str]]] = []
    run_vers: list[int | None] = []
    for w in windows:
        v = ver_by_dir.get(w[2])
        if (runs and runs[-1][-1][1] == w[0]
                and (v is None or run_vers[-1] is None
                     or v == run_vers[-1])):
            runs[-1].append(w)
            if run_vers[-1] is None:
                run_vers[-1] = v
        else:
            runs.append([w])
            run_vers.append(v)
    runs = [r for r in runs if len(r) >= 2]

    slim = _slim_probe_schema(key, key_type)
    compacted = 0
    windows_in = 0
    for run in runs:
        paths = [os.path.join(out_dir, fn) for _a, _b, fn in run]
        lines = spark.read.text(paths).select(
            F.col("value"),
            F.from_json("value", slim).alias("e"),
        )
        k = F.coalesce(F.col(f"e.after.{key}"),
                       F.col(f"e.before.{key}"))
        bad = (F.col("e").isNull() | F.col("e.op").isNull()
               | F.col("e.source.lsn").isNull() | k.isNull())
        is_del = F.col("e.op") == "d"
        winners = (
            lines.filter(~bad)
            .groupBy(k.alias("_k"))
            .agg(F.max_by(
                F.struct(F.col("value"), is_del.alias("_d")),
                F.struct(F.col("e.source.lsn"), is_del)).alias("_w"))
            .select(F.col("_w.value").alias("value"),
                    F.col("_w._d").alias("_d"))
        )
        if drop_tombstones:
            winners = winners.filter(~F.col("_d"))
        out = winners.select("value").unionByName(
            lines.filter(bad).select("value"))
        a, b = run[0][0], run[-1][1]
        final = os.path.join(out_dir, f"window-{a:08d}-{b:08d}")
        if os.path.exists(os.path.join(final, "_SUCCESS")):
            # a prior wider-retry publish already covers this exact
            # span — its window supersedes the constituents anyway
            continue
        # an unmarked directory of that name is a crashed publish:
        # nothing reads it, so it gives way to the squashed window
        shutil.rmtree(final, ignore_errors=True)
        tmp = os.path.join(out_dir, f".compact-tmp-{uuid.uuid4().hex}")
        # output file count left to AQE partition coalescing — the
        # winner set is O(live keys in span) and must come out in few
        # files (re-fragmenting the topic would defeat the point)
        out.write.mode("overwrite").text(tmp)
        os.rename(tmp, final)          # coverage now duplicated...
        for _a, _b, fn in run:          # ...then the constituents go
            shutil.rmtree(os.path.join(out_dir, fn),
                          ignore_errors=True)
        compacted += 1
        windows_in += len(run)
    return {"runs_compacted": compacted, "windows_in": windows_in,
            "overlaps_swept": swept}


_TOPIC_WINDOWS_SCHEMA = T.StructType([
    T.StructField("window", T.StringType()),
    T.StructField("from_version", T.LongType()),
    T.StructField("to_version", T.LongType()),
    T.StructField("complete", T.BooleanType()),
    T.StructField("files", T.LongType()),
    T.StructField("bytes", T.LongType()),
    T.StructField("schema_ver", T.LongType()),
])


def topic_windows_df(spark, env_dir: str,
                     with_schema_ver: bool = False) -> DataFrame:
    """The topic as a queryable relation — the metadata-tables surface
    (`lake/metadata.py`) extended to the envelope side: one row per
    window directory with its span, completeness (`_SUCCESS`), file
    count and bytes (driver-side listing, O(windows) — never a data
    read), and optionally the stamped ``source.schema_ver`` (ONE slim
    probe job over every complete window; off by default so the
    listing itself stays I/O-free). Feed it to retention/compaction
    decisions: the low-water sweep bound, runs eligible for
    compaction, a late consumer's re-bootstrap horizon."""
    rows = []
    vers: dict[str, int] = {}
    complete_paths = []
    if os.path.isdir(env_dir):
        for fn in sorted(os.listdir(env_dir)):
            m = _WINDOW_RE.match(fn)
            if not m:
                continue
            path = os.path.join(env_dir, fn)
            done = os.path.exists(os.path.join(path, "_SUCCESS"))
            if done and with_schema_ver:
                complete_paths.append(path)
            n_files = n_bytes = 0
            for part in os.listdir(path):
                if part.startswith("part-"):
                    n_files += 1
                    n_bytes += os.path.getsize(
                        os.path.join(path, part))
            rows.append([fn, int(m.group(1)), int(m.group(2)), done,
                         n_files, n_bytes, None])
    if complete_paths:
        vers = _probe_window_versions(spark, complete_paths)
        for row in rows:
            v = vers.get(row[0])
            row[6] = None if v == _UNSTAMPED else v
    return spark.createDataFrame(
        [tuple(r) for r in rows], _TOPIC_WINDOWS_SCHEMA)


# ------------------------------------------- replica bootstrap (topic)


def export_replica_bootstrap(source: LakeTable, out_dir: str) -> dict:
    """Materialize a consistent bootstrap for NEW replica sites: the
    source's current winner rows — INCLUDING tombstones, so the
    replica inherits exactly the late-arrival suppression state — as
    parquet, plus a manifest pinning (version, schema, key, buckets).
    This is what a late consumer uses after topic retention swept the
    window prefix (the log-compacted-topic contract): bootstrap, then
    consume windows > the pinned version.

    Distributed write, O(live table); the manifest is one JSON file
    written AFTER the parquet (its presence commits the export, same
    _SUCCESS discipline as windows)."""
    import json

    snap = source.snapshot()
    version = snap["version"]
    fields = source.fields(snap)
    key = source.key_field(snap)
    w = source._winner_per_key(
        source._read_entries(fields, source.files(snap)), key)
    w.write.mode("overwrite").parquet(os.path.join(out_dir, "rows"))
    man = {
        "version": version,
        "fields": fields,
        "key": key,
        "n_buckets": snap["n_buckets"],
        "registry_ver": source.registry_version(snap),
    }
    tmp = os.path.join(out_dir, "_bootstrap.json.tmp")
    with open(tmp, "w") as f:
        json.dump(man, f, indent=1)
    os.replace(tmp, os.path.join(out_dir, "_bootstrap.json"))
    return man


def bootstrap_replica(spark, export_dir: str, root: str,
                      n_buckets: int | None = None) -> LakeTable:
    """Create a replica table from an ``export_replica_bootstrap``
    directory, seeded so topic consumption resumes EXACTLY where the
    export was cut: the bootstrap merges with
    ``batch_id="env-<version>"``, which sets the env- high-water mark
    — ``apply_envelopes`` then skips every window at or below the
    export version and folds only newer ones. Safe under prefix-only
    topic retention even when retained windows overlap the bootstrap:
    older upserts lose by lsn, suffix deletes carry pre-image lsns
    that tie-or-beat the bootstrapped rows (deleted wins the tie), so
    re-reads converge rather than resurrect.

    Re-running against an existing root is the usual idempotent no-op
    (the ledger already carries the batch id)."""
    import json

    man_path = os.path.join(export_dir, "_bootstrap.json")
    if not os.path.exists(man_path):
        raise ValueError(
            f"no _bootstrap.json under {export_dir} — export "
            f"incomplete or not an export_replica_bootstrap directory")
    with open(man_path) as f:
        man = json.load(f)
    if os.path.exists(os.path.join(root, "_meta", "_current")):
        table = LakeTable(spark, root)
    else:
        table = LakeTable.create(
            spark, root, fields=man["fields"], key_field=man["key"],
            n_buckets=n_buckets or man["n_buckets"])
    rows = spark.read.parquet(os.path.join(export_dir, "rows"))
    batch = rows.select(
        *[f["name"] for f in man["fields"]],
        F.col("_lsn").alias("lsn"),
        F.when(F.col("_deleted"), F.lit("D")).otherwise(F.lit("I"))
        .alias("op"),
    )
    table.merge(batch, batch_id=f"env-{man['version']}",
                lineage={"mode": "replica_bootstrap",
                         "export_version": man["version"]})
    return table
