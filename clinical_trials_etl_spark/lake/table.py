"""Parquet-backed lake table with Iceberg-style ACID snapshot commits.

No Iceberg runtime jar ships in this container, so the engine provides
its own table format with the same guarantees the north rule needs,
implemented Spark-first:

- **Snapshot isolation / atomic commit**: every commit writes an
  immutable ``_meta/snap-<v>.json`` manifest (schema + file list +
  lineage) and atomically flips the ``_meta/_current`` pointer via
  ``os.replace``. Readers always see a complete snapshot.
- **Field-id schema evolution**: data files store columns named
  ``f_<field_id>`` (plus system columns), so *rename* is pure metadata
  (Iceberg's trick — no file rewrite, no drop+add ambiguity) and
  *widen* is a read-side cast; files written before a widen are read
  with their recorded per-file schema and unioned (Iceberg per-file
  schema semantics).
- **Bucket layout**: rows are hash-bucketed on the merge key
  (``pmod(xxhash64(key), n_buckets)`` ~ Iceberg ``bucket(N, url)``).
  MERGE rewrites only the buckets the source batch touches and re-links
  unchanged files — copy-on-write with partition pruning, which is what
  keeps a 10^10-row table mergeable: work is O(touched buckets), not
  O(table). A merge-on-read (delta) commit instead appends a layer
  that keeps ``_bucket`` as a column — one file for a micro-batch —
  and each bucket a layer file holds lists it; readers filter it on
  ``_bucket``.
- **LSN-guarded MERGE**: upsert keeps the max-``lsn`` row per key;
  deletes become tombstones that *retain* their lsn so a late (lower-lsn)
  update arriving after a delete cannot resurrect the row — the
  correctness gap the reference's unconditional ``$set`` upsert has
  (trials_extractor/storage/mongodb_storage.py:229-231, noted in
  SURVEY.md §2.9).
- **Exactly-once**: commits record ``batch_id``; re-applying an
  already-committed batch is a metadata no-op, so foreachBatch retries
  and checkpoint replays converge to the identical snapshot. Tracking
  is bounded (Delta ``txnAppId``/``txnVersion``-style): numeric-suffixed
  ids ("epoch-17", "replay-3") keep one high-water mark per prefix —
  the Structured Streaming contract delivers epochs in order, so
  n <= hwm means already applied — plus a bounded recent-id set for
  arbitrary ids. Snapshot metadata therefore does NOT grow O(commits).
- **Bounded snapshot metadata**: file entries live in immutable
  per-commit manifest files; the snapshot carries only a
  bucket -> manifest pointer map (O(n_buckets), fixed) plus the
  commit's own lineage entry (never the whole history), so each commit
  writes O(touched buckets) new metadata. Bucket-pruned reads load
  only the manifests of the buckets they touch.
- **One commit path**: every operation after ``create`` commits through
  ``_commit``, which builds the next snapshot from its base (version,
  parent, timestamp, embedded lineage, exactly-once ledger, correction
  fences), links it create-if-absent and, for the two sanctioned
  concurrent-writer pairs, re-bases and retries a lost race.

On a cluster with a real Iceberg catalog the same apply code path can
emit ``MERGE INTO`` SQL instead (see ``cdc/apply.py``); this class is
the self-contained sandbox/production-parquet fallback.

Single-writer assumption (one streaming query owns the table), which is
exactly the Structured Streaming deployment model.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SYS_LSN = "_lsn"
SYS_DELETED = "_deleted"
SYS_BUCKET = "_bucket"

_TYPES = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "double": T.DoubleType(),
    "timestamp": T.TimestampType(),
    "binary": T.BinaryType(),
    "boolean": T.BooleanType(),
}


def _spark_type(name: str) -> T.DataType:
    return _TYPES[name]


_M64 = (1 << 64) - 1
_XP1, _XP2, _XP3, _XP4, _XP5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, lane: int) -> int:
    return _rotl64((acc + lane * _XP2) & _M64, 31) * _XP1 & _M64


def _xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed long: Spark's ``xxhash64`` of one
    string (seed 42) is this over its UTF-8 bytes. Lets a point lookup
    route its key to a bucket without a Spark job;
    tests/test_lake_metadata.py pins it to the JVM's result."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _XP1 + _XP2) & _M64, (seed + _XP2) & _M64,
             seed & _M64, (seed - _XP1) & _M64]
        while i <= n - 32:
            for j in range(4):
                v[j] = _xxh64_round(
                    v[j], int.from_bytes(data[i:i + 8], "little"))
                i += 8
        h = (_rotl64(v[0], 1) + _rotl64(v[1], 7) + _rotl64(v[2], 12)
             + _rotl64(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _xxh64_round(0, x)) * _XP1 + _XP4) & _M64
    else:
        h = (seed + _XP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh64_round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl64(h, 27) * _XP1 + _XP4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i:i + 4], "little") * _XP1 & _M64
        h = (_rotl64(h, 23) * _XP2 + _XP3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl64(h ^ (b * _XP5 & _M64), 11) * _XP1 & _M64
    h = (h ^ (h >> 33)) * _XP2 & _M64
    h = (h ^ (h >> 29)) * _XP3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


class CommitConflict(Exception):
    """Another writer committed this snapshot version first. The table
    is single-writer by design (one streaming query per checkpoint —
    the Structured Streaming model); this fires when two jobs are
    accidentally pointed at the same table root. Detection, not
    serialization: the loser fails loudly BEFORE clobbering committed
    metadata, instead of last-writer-wins silently corrupting the
    snapshot chain. Recovery: stop the duplicate job; a legitimate
    retry re-reads the table state and commits on top of the winner.

    The ONE sanctioned concurrent-writer pair is delta-mode ingest
    beside maintenance (the Iceberg rewrite_data_files deployment
    pattern), race-free in BOTH orders: a ``compact()`` that loses
    the race to delta-merge commits rebases its metadata on top of
    them (``_rebase_rewrite_base``), and a delta ``merge()`` that
    loses to a maintenance commit re-commits its layer on top of the
    winner (``_rebase_delta_merge_base``). Everything else — rival
    merges, COW losers, layout changes under a rewrite — still fails
    loudly."""


class CorrectionFenceCollision(Exception):
    """An incoming CDC batch carries an event whose LSN equals a
    lake-side correction's fence LSN *for a key that correction
    touched*. ``update_where`` mints its corrected rows at
    ``max(applied lsn) + 1`` — an LSN the upstream log had not yet
    emitted — so a later source event assigned exactly that LSN for
    the same key would tie with the correction under the
    max-``(lsn, deleted)`` winner rule with two DIFFERENT payloads:
    genuinely ambiguous, and the one case the engine refuses to
    resolve silently. The apply path (``cdc/apply.py``) trips this
    before the merge runs; the batch is untouched and the stream can
    be resumed after the operator either re-runs the correction on
    top of the new event or drops the event. Events at the fence LSN
    for keys the correction did NOT touch apply normally — the guard
    semi-joins against the correction commit's own rows, so there are
    no false halts."""


def _fences_entry(parent: dict, add_lsn: int | None,
                  version: int) -> dict:
    """``correction_fences`` snapshot entry: ``[lsn, commit_version]``
    pairs carried forward from the parent, plus this commit's new
    fence when it is a lake-side correction. ``LakeTable._commit``
    builds every commit's entry through here. Bounded by the number of
    ``update_where`` calls since the last
    ``compact(drop_tombstones_below_lsn=...)`` above their fences,
    which passes the kept subset in as the parent's — corrections are
    rare operator actions, not a per-batch path."""
    fences = [list(p) for p in parent.get("correction_fences", [])]
    if add_lsn is not None:
        fences.append([int(add_lsn), int(version)])
    return {"correction_fences": fences} if fences else {}


# bounded optimistic-concurrency retries for the rebasing commit path
# (compaction vs a live ingest stream, and the reverse); each retry
# re-reads the current snapshot, so exhausting them means the table is
# committing faster than a metadata rebase can keep up — rerun the op
_COMMIT_RETRIES = 5

# column types whose parquet min/max stats the manifest records (the
# orderable primitives; binary payloads and nested types never get
# stats — they are not skippable predicates)
_STAT_TYPES = {
    "int", "integer", "short", "smallint", "long", "bigint",
    "float", "double", "real", "boolean", "string", "timestamp", "date",
}
# longer string stats are dropped, not truncated: a truncated max
# would be a LOWER bound, and skipping on it could drop matching files
_STAT_MAX_STR = 64


def _stat_encode(v):
    """JSON-safe, order-preserving encoding of a parquet stat value.
    Timestamps -> epoch micros (UTC), dates -> epoch days, strings
    as-is (UTF-8 byte order == code-point order, so Python string
    comparison matches parquet's ordering). Returns None for values
    that cannot be encoded safely — the caller drops that column's
    stat for the file, which only disables skipping, never
    correctness."""
    import datetime

    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, bytes):
        try:
            v = v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        return v if len(v) <= _STAT_MAX_STR else None
    return None


def _parquet_footer(path: str, stat_cols: set[str]) -> tuple[int, dict]:
    """Row count + per-column ``[min, max]`` from the parquet footer —
    ONE driver-side metadata read per written file, no Spark job (the
    same read that already supplied row counts). A column's stat is
    recorded only if EVERY row group reports min/max for it; a missing
    or unencodable row-group stat poisons the whole file's entry for
    that column (conservative: no stat == never skipped)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if name not in stat_cols or name in bad:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                bad.add(name)
                continue
            lo, hi = _stat_encode(st.min), _stat_encode(st.max)
            if lo is None or hi is None:
                bad.add(name)
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    stats = {n: [mins[n], maxs[n]] for n in mins if n not in bad}
    return md.num_rows, stats


def _bucket_rows(path: str) -> dict[str, int]:
    """Row count per bucket of a file that stores ``_bucket`` as a
    column (a delta layer): one driver-side read of that int column,
    O(batch) like the layer itself."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    col = pq.read_table(path, columns=[SYS_BUCKET])[SYS_BUCKET]
    counts = pc.value_counts(col.combine_chunks()).to_pylist()
    return {str(c["values"]): c["counts"]
            for c in sorted(counts, key=lambda c: c["values"])}


def _manifest_doc(version: int, by_bucket: dict[str, list[dict]]) -> dict:
    """A manifest's JSON body. A file that holds one bucket is listed
    under it in ``files``. A file that holds several (a delta layer,
    marked by its ``bucket_rows``) is recorded ONCE in ``shared``: its
    path, schema, stats and row count per bucket, the key bloom of
    each bucket, and — when this manifest lists it under only some of
    its buckets (a branch publish's net diff) — those ``buckets``."""
    files: dict[str, list[dict]] = {}
    shared: dict[str, dict] = {}
    for b, es in by_bucket.items():
        for e in es:
            if "bucket_rows" not in e:
                files.setdefault(b, []).append(e)
                continue
            rec = shared.setdefault(e["path"], {
                **{k: v for k, v in e.items()
                   if k not in ("bucket", "key_bloom")},
                "buckets": [], "key_blooms": {}})
            rec["buckets"].append(b)
            if "key_bloom" in e:
                rec["key_blooms"][b] = e["key_bloom"]
    for rec in shared.values():
        if set(rec["buckets"]) == set(rec["bucket_rows"]):
            del rec["buckets"]
        if not rec["key_blooms"]:
            del rec["key_blooms"]
    doc = {"version": version, "files": files}
    if shared:
        doc["shared"] = list(shared.values())
    return doc


def _manifest_entries(doc: dict, bucket: str | None = None) -> list[dict]:
    """The ``files()`` entries of one manifest body — one per (file,
    bucket), all buckets or only ``bucket``. A shared file's entries
    carry its ``bucket_rows``, which tells readers to filter its rows
    on ``_bucket``."""
    out = [e for b, es in doc["files"].items() if bucket in (None, b)
           for e in es]
    for rec in doc.get("shared", []):
        blooms = rec.get("key_blooms", {})
        for b in rec.get("buckets", rec["bucket_rows"]):
            if bucket not in (None, b):
                continue
            e = {k: v for k, v in rec.items()
                 if k not in ("buckets", "key_blooms")}
            e["bucket"] = int(b)
            if b in blooms:
                e["key_bloom"] = blooms[b]
            out.append(e)
    return out


# string rank uses a 6-byte (48-bit) big-endian window so the value
# stays exactly representable in a double's 53-bit mantissa — a wider
# window would silently stop being order-preserving at the low bits
_ZORDER_STR_PREFIX = 6


def _lcp_bytes(a: str, b: str) -> int:
    """Byte length of the longest common prefix of two strings' UTF-8
    encodings. Lexicographic invariant: every value between min and
    max shares min/max's common prefix, so skipping it before ranking
    loses no order information — it recovers the bytes that actually
    discriminate (web urls all open with ``https://...``; a constant
    window there would collapse the whole dimension to one rank)."""
    ab, bb = a.encode("utf-8"), b.encode("utf-8")
    n = 0
    for x, y in zip(ab, bb):
        if x != y:
            break
        n += 1
    return n


def _zorder_str_rank_value(s: str, offset: int) -> float:
    """Driver-side twin of the string branch of
    ``_zorder_rank_expr`` — byte-exact (same UTF-8 slice, same
    right-zero-padding, same big-endian integer), so the dimension
    bounds can be derived from the already-aggregated min/max strings
    instead of a second Spark job over the rank column."""
    window = s.encode("utf-8")[offset:offset + _ZORDER_STR_PREFIX]
    window = window.ljust(_ZORDER_STR_PREFIX, b"\x00")
    return float(int.from_bytes(window, "big"))


def _zorder_rank_expr(name: str, dtype: str, str_offset: int = 0):
    """Order-preserving DOUBLE projection of an orderable column, the
    per-dimension input to the Z-order (Morton) key. Strings map to a
    UTF-8 6-byte big-endian window starting after the dimension's
    common prefix (``str_offset`` bytes, from ``_lcp_bytes`` of the
    global min/max — lexicographic order of the windows preserved);
    timestamps/dates to epoch seconds; numerics cast. Pure JVM
    expressions — no Python in the rewrite path."""
    c = F.col(name)
    if dtype == "string":
        hexpad = F.rpad(
            F.hex(F.substring(c.cast("binary"), str_offset + 1,
                              _ZORDER_STR_PREFIX)),
            _ZORDER_STR_PREFIX * 2, "0")
        return F.conv(hexpad, 16, 10).cast("double")
    if dtype == "date":
        return c.cast("timestamp").cast("double")
    if dtype == "boolean":
        return c.cast("int").cast("double")
    return c.cast("double")  # numerics and timestamps


def _zorder_key(norms: list) -> "F.Column":
    """Interleave the bits of pre-normalized per-dimension bucket
    indexes (longs in ``[0, 2^bits)``) into one Morton key:
    ``z = OR_{i,d} ((v_d >> i & 1) << (i*D + d))``. Built as a static
    JVM expression tree (``bits × D`` shift/mask terms), entirely
    inside whole-stage codegen."""
    dims = len(norms)
    bits = min(16, 63 // dims)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for d, n in enumerate(norms):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(n, i).bitwiseAND(F.lit(1)),
                    i * dims + d))
    return z


def _zorder_norm(rank, lo: float, hi: float, dims: int):
    """Scale one dimension's rank double into its ``2^bits``-bucket
    index (nulls to bucket 0 — they cluster at the curve's origin).
    Degenerate dimensions (single value, or bounds unavailable)
    contribute a constant 0, which only wastes their interleaved bits."""
    bits = min(16, 63 // dims)
    nb = 1 << bits
    if lo is None or hi is None or not (hi > lo):
        return F.lit(0).cast("long")
    n = F.floor((rank - F.lit(float(lo)))
                / F.lit(float(hi) - float(lo)) * nb).cast("long")
    n = F.least(F.lit(nb - 1).cast("long"),
                F.greatest(F.lit(0).cast("long"), n))
    return F.coalesce(n, F.lit(0).cast("long"))


class LakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.meta_dir = os.path.join(root, "_meta")
        self.data_dir = os.path.join(root, "data")

    # ------------------------------------------------------------ meta

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        fields: list[dict],
        key_field: str,
        n_buckets: int = 16,
        key_bloom_bits: int | None = None,
    ) -> "LakeTable":
        """fields: [{"id": int, "name": str, "type": str}, ...]

        ``key_bloom_bits``: record a per-file (per file and bucket for
        a delta layer) key bloom filter of this many bits in the
        manifest at every write (see
        ``_attach_key_blooms``). Point lookups then skip bloom-missing
        files — including DELTA LAYERS, which min/max stats must not
        skip — so a lookup on a layer-accreting streaming table stays
        O(files-holding-the-key) between compactions. Size at >=10
        bits per row-per-file for ~1% false positives (a false
        positive only costs reading one extra file). Off by default:
        each merge pays one extra narrow Spark job to build the blooms."""
        if key_bloom_bits is not None and (
                key_bloom_bits < 64 or key_bloom_bits % 64):
            raise ValueError("key_bloom_bits must be a multiple of 64")
        table = cls(spark, root)
        os.makedirs(table.meta_dir, exist_ok=True)
        os.makedirs(table.data_dir, exist_ok=True)
        snap = {
            "version": 0,
            "parent": None,
            "schema": {"fields": fields, "key": key_field},
            "n_buckets": n_buckets,
            **({"key_bloom_bits": key_bloom_bits}
               if key_bloom_bits else {}),
            "manifests": {},       # bucket (str) -> manifest file path
            "batch_hwm": {},       # batch-id prefix -> max numeric suffix
            "applied_recent": [],  # bounded set for non-numeric ids
            "committed_at": time.time(),
        }
        table._write_snapshot(snap)
        return table

    def _snap_path(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"snap-{version:08d}.json")

    def _write_manifest(self, version: int,
                        by_bucket: dict[str, list[dict]]) -> str:
        """Write a per-commit manifest at a UNIQUE path and return it.

        Manifests are path-referenced everywhere — snapshot manifest
        lists, and the change feed resolves a merge commit's own
        manifest from its lineage entry (``commit_manifest``) — so no
        two writers can ever compute the same target filename: rivals
        racing on one version number each write their own file and
        exactly one wins the snapshot's create-if-absent commit; the
        loser's manifest is inert residue, never a silent cross-link
        into the winner's snapshot (the failure mode a shared
        ``manifest-<version>.json`` name admits during the
        write-then-commit window). The embedded version is the
        writer's target AT WRITE TIME — provisional until the
        snapshot commits; a rebased commit re-points the same file at
        a higher version (see ``merge``/``compact``)."""
        path = os.path.join(
            self.meta_dir,
            f"manifest-{version:08d}-{uuid.uuid4().hex[:12]}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(_manifest_doc(version, by_bucket), f, indent=1)
        os.replace(tmp, path)
        return path

    def _write_snapshot(self, snap: dict) -> None:
        """Commit = atomically CREATE snap-<version>.json (write the
        full content to a temp file, then hard-link it into place —
        link fails with EEXIST if the version already exists). Two
        writers racing to commit the same next version therefore
        cannot silently overwrite each other: exactly one wins, the
        other gets CommitConflict and must re-read the table state and
        retry on top of the winner (Iceberg optimistic-concurrency
        contract). Version 0 (create) keeps plain replace semantics —
        re-creating over an existing table root is the caller's
        explicit act, not a race."""
        path = self._snap_path(snap["version"])
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(snap, f, indent=1)
        if snap["version"] == 0:
            os.replace(tmp, path)
        else:
            try:
                os.link(tmp, path)
            except FileExistsError:
                raise CommitConflict(
                    f"version {snap['version']} was committed by a "
                    f"concurrent writer — re-read the table state and "
                    f"retry on top of it") from None
            finally:
                try:
                    os.unlink(tmp)
                except OSError:
                    pass
        cur_tmp = os.path.join(self.meta_dir, f"_current.tmp-{uuid.uuid4().hex}")
        with open(cur_tmp, "w") as f:
            f.write(str(snap["version"]))
        os.replace(cur_tmp, os.path.join(self.meta_dir, "_current"))

    def _next_snapshot(self, base: dict, changes: dict | None = None,
                       batch_id: str | None = None,
                       fence_lsn: int | None = None) -> dict:
        """The snapshot that follows ``base``: ``base``'s state with
        ``changes`` applied, the next version number, ``batch_id``
        recorded in the exactly-once ledger and ``fence_lsn`` appended
        to the correction fences. Carries no lineage entry — that is
        the committer's to attach (``_commit``, or the WAP staging
        record)."""
        state = {**base, **(changes or {})}
        version = base["version"] + 1
        snap = {k: v for k, v in state.items()
                if k not in ("lineage", "fork", "correction_fences")}
        snap.update(
            version=version,
            parent=base["version"],
            batch_hwm=dict(state["batch_hwm"]),
            applied_recent=list(state["applied_recent"]),
            **_fences_entry(state, fence_lsn, version),
            committed_at=time.time(),
        )
        if batch_id is not None:
            self._record_applied(snap, batch_id)
        return snap

    def _commit(self, base: dict, lineage: dict,
                changes: dict | Callable[[dict], dict] | None = None,
                batch_id: str | None = None,
                fence_lsn: int | None = None,
                rebase: Callable[[], dict] | None = None) -> dict | None:
        """Commit the snapshot that follows ``base`` — the one commit
        path of every operation after ``create``. ``changes`` (a dict,
        or a function of the base when it depends on it) names what
        this commit changes; everything else carries over from the
        base. The snapshot embeds ``lineage``, the table's only copy
        of it, and is linked create-if-absent by ``_write_snapshot``,
        which then advances ``_current``.

        A lost race raises CommitConflict unless ``rebase`` is given:
        it validates that the winners left this commit's work valid
        and returns the snapshot to re-build on (raising CommitConflict
        when they did not), up to ``_COMMIT_RETRIES`` attempts. A
        rebased commit records ``rebases`` in its lineage. Returns the
        committed snapshot, or None when a rebase found ``batch_id``
        already applied by the winner (nothing committed)."""
        for attempt in range(_COMMIT_RETRIES):
            delta = changes(base) if callable(changes) else changes
            snap = self._next_snapshot(base, delta, batch_id, fence_lsn)
            snap["lineage"] = (dict(lineage, rebases=attempt) if attempt
                               else lineage)
            try:
                self._write_snapshot(snap)
                return snap
            except CommitConflict:
                if rebase is None:
                    raise
            base = rebase()
            if batch_id is not None and self.is_applied(batch_id, base):
                return None
        raise CommitConflict(
            f"{lineage['type']} lost the commit race {_COMMIT_RETRIES} "
            f"times in a row — rerun it")

    def current_version(self) -> int:
        with open(os.path.join(self.meta_dir, "_current")) as f:
            v = int(f.read().strip())
        # _current is a HINT (Iceberg version-hint.text analog): a
        # crash between the snapshot link and the pointer update
        # leaves it one behind, and with create-if-absent commits a
        # stale pointer would wedge the next commit in a conflict it
        # can never win. The snapshot files are the truth: roll
        # forward to the newest committed version.
        while os.path.exists(self._snap_path(v + 1)):
            v += 1
        return v

    def snapshot(self, version: int | str | None = None) -> dict:
        if version is None:
            version = self.current_version()
        elif isinstance(version, str):
            version = self._resolve_ref(version)
        with open(self._snap_path(version)) as f:
            return json.load(f)

    def version_as_of(self, ts) -> int:
        """Resolve a wall-clock instant to the snapshot that was
        current then (Iceberg ``FOR SYSTEM_TIME AS OF`` / Delta
        ``timestampAsOf`` analog): the HIGHEST existing version whose
        ``committed_at`` <= ``ts``. Commit timestamps are stamped at
        snapshot-link time, so they are monotone in version and the
        lookup is exact, not heuristic. ``ts`` is epoch seconds or a
        ``datetime`` (naive = local time, tz-aware respected —
        ``datetime.timestamp()`` semantics).

        Raises when the table didn't exist at ``ts``. Resolution
        itself always stays exact under retention —
        ``expire_snapshots`` drops old snapshots' *data files* but
        keeps every snapshot JSON — though READING the resolved
        version can still fail at scan time if its files were
        expired, same as ``read(version=old)``. Driver-side metadata
        only."""
        if hasattr(ts, "timestamp"):
            ts = ts.timestamp()
        ts = float(ts)
        best = max((s["version"] for s in self._snapshots()
                    if s["committed_at"] <= ts), default=-1)
        if best < 0:
            raise ValueError(
                f"no snapshot existed at ts={ts} (table created later)")
        # meta-dir holes (a partial copy/manual cleanup — never this
        # format's own retention, which keeps all snapshot JSONs): if
        # ``best``'s immediate successor's JSON is gone its commit
        # time is unknowable — it may have been <= ts, making ``best``
        # stale at that instant. Refuse rather than silently hand back
        # an earlier state.
        if (best < self.current_version()
                and not os.path.exists(self._snap_path(best + 1))):
            raise ValueError(
                f"snapshot v{best + 1} (the successor of the resolved "
                f"v{best}) is missing from the metadata dir — whether "
                f"v{best} was still current at ts={ts} is unknowable; "
                f"time-travel by version or tag instead")
        return best

    # ---------------------------------------------------------- refs

    _REF_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")

    @property
    def refs_dir(self) -> str:
        return os.path.join(self.meta_dir, "refs")

    def _tag_path(self, name: str) -> str:
        if not self._REF_NAME_RE.match(name):
            raise ValueError(
                f"invalid tag name {name!r} (want [A-Za-z0-9._-], "
                f"letter/digit first, <=64 chars)")
        return os.path.join(self.refs_dir, f"tag-{name}.json")

    def tag(self, name: str, version: int | None = None) -> dict:
        """Create an immutable named ref to a snapshot (Iceberg tag
        analog — `ALTER TABLE ... CREATE TAG`). Tags pin their
        snapshot against ``expire_snapshots`` retention: a tagged
        version stays readable until the tag is dropped, however far
        the retention window moves past it (audit / reproducibility
        pins: 'the exact table state model X was trained on').

        Creation is atomic create-if-absent, same hard-link contract
        as snapshot commits — re-tagging an existing name raises
        instead of silently moving the pin (delete_tag first)."""
        if version is None:
            version = self.current_version()
        if not os.path.exists(self._snap_path(version)):
            raise ValueError(f"no snapshot v{version} to tag")
        os.makedirs(self.refs_dir, exist_ok=True)
        path = self._tag_path(name)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"name": name, "version": version,
                       "created_at": time.time()}, f, indent=1)
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise ValueError(
                f"tag {name!r} already exists (tags are immutable — "
                f"delete_tag it first to move the pin)") from None
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass
        return {"name": name, "version": version}

    def tags(self) -> dict[str, int]:
        """All tags, name -> pinned snapshot version."""
        if not os.path.isdir(self.refs_dir):
            return {}
        out: dict[str, int] = {}
        for fn in sorted(os.listdir(self.refs_dir)):
            if fn.startswith("tag-") and fn.endswith(".json"):
                with open(os.path.join(self.refs_dir, fn)) as f:
                    rec = json.load(f)
                out[rec["name"]] = rec["version"]
        return out

    def delete_tag(self, name: str) -> None:
        path = self._tag_path(name)
        if not os.path.exists(path):
            raise ValueError(f"no such tag {name!r}")
        os.remove(path)

    def _resolve_ref(self, name: str) -> int:
        tags = self.tags()
        if name not in tags:
            raise ValueError(f"no such tag {name!r} (have {sorted(tags)})")
        return tags[name]

    # ------------------------------------------------------- branches
    #
    # Iceberg-style BRANCHES (mutable named refs with their own commit
    # chain) on top of the same snapshot format. A branch is a
    # metadata-only fork: its snap-0 re-references the fork point's
    # manifests (no data copies), its data files land in the SHARED
    # ``data/`` directory (every write path in this format is
    # copy-on-write — no file is ever mutated — so sharing is safe),
    # and only its metadata chain diverges, under
    # ``_meta/branches/<name>/``. The deployment shape this serves is
    # the audit branch (Iceberg's ``spark.wap.branch`` pattern): run
    # the ingest stream or a backfill against a branch, audit the
    # RESULT STATE across any number of commits — merges, compaction,
    # schema evolution — then publish atomically with
    # ``fast_forward`` or discard with ``drop_branch``. Compared to
    # the single-commit WAP staging below (write-audit-publish one
    # batch), a branch is the multi-commit generalization.
    #
    # ``fast_forward`` is a squash publish: ONE create-if-absent
    # commit on main whose state is the branch head's (manifests
    # adopted by hard link, schema and the exactly-once ledger carried
    # over — re-delivering branch-applied epochs to main is a no-op),
    # and whose commit manifest is the NET file diff vs the fork base,
    # so the change feed / mirrors / incremental views downstream of
    # main read O(branch changes), never O(table). Publishing is
    # all-or-nothing by construction (the engine's snapshot commit is
    # a single atomic link), which is why the branch's commits are
    # squashed rather than replayed one-by-one — a multi-snapshot
    # adoption could be half-published by a crash or a lost race.
    #
    # Reference analog: none — the reference's store has no isolation
    # between a bulk load and its readers at all (every upsert is
    # immediately visible, trials_extractor/storage/
    # mongodb_storage.py); this is the audited-publish replacement.

    @property
    def branches_dir(self) -> str:
        return os.path.join(self.meta_dir, "branches")

    def _branch_ref_path(self, name: str) -> str:
        if not self._REF_NAME_RE.match(name):
            raise ValueError(
                f"invalid branch name {name!r} (want [A-Za-z0-9._-], "
                f"letter/digit first, <=64 chars)")
        return os.path.join(self.refs_dir, f"branch-{name}.json")

    def _require_main(self, op: str) -> None:
        if getattr(self, "branch_name", None) is not None:
            raise ValueError(
                f"{op} must run on the main table, not on branch "
                f"{self.branch_name!r} (branches share the main "
                f"table's data directory; one level of branching)")

    def create_branch(self, name: str, version: int | None = None) -> dict:
        """Fork a branch at ``version`` (default: current head).
        Metadata-only — the branch's snap-0 re-references the fork
        snapshot's manifests; no data moves. The fork copy carries the
        schema, bucket layout AND the exactly-once ledger
        (``batch_hwm``/``applied_recent``), so a stream pointed at the
        branch resumes exactly where the main table's state left off.
        The ref file is linked create-if-absent LAST, so a crashed
        create leaves an unlisted directory (inert residue), never a
        half-registered branch."""
        self._require_main("create_branch")
        ref = self._branch_ref_path(name)
        if version is None:
            version = self.current_version()
        snap = self.snapshot(version)
        bdir = os.path.join(self.branches_dir, name)
        if os.path.exists(ref) or os.path.isdir(bdir):
            raise ValueError(f"branch {name!r} already exists")
        os.makedirs(bdir, exist_ok=True)
        fork = {k: v for k, v in snap.items() if k != "lineage"}
        fork["version"] = 0
        fork["parent"] = None
        fork["fork"] = {"version": version}
        fork["committed_at"] = time.time()
        self.branch(name, _check=False)._write_snapshot(fork)
        os.makedirs(self.refs_dir, exist_ok=True)
        tmp = ref + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"name": name, "version": version,
                       "created_at": time.time()}, f, indent=1)
        try:
            os.link(tmp, ref)
        except FileExistsError:
            raise ValueError(
                f"branch {name!r} already exists") from None
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass
        return {"name": name, "forked_at": version}

    def branches(self) -> dict[str, dict]:
        """All branches, name -> {forked_at, head} (head = number of
        unpublished commits on the branch)."""
        if not os.path.isdir(self.refs_dir):
            return {}
        out: dict[str, dict] = {}
        for fn in sorted(os.listdir(self.refs_dir)):
            if fn.startswith("branch-") and fn.endswith(".json"):
                with open(os.path.join(self.refs_dir, fn)) as f:
                    rec = json.load(f)
                out[rec["name"]] = {
                    "forked_at": rec["version"],
                    "head": self.branch(
                        rec["name"], _check=False).current_version(),
                }
        return out

    def branch(self, name: str, _check: bool = True) -> "LakeTable":
        """The branch as a LakeTable: same engine, same data
        directory, its own metadata chain — every operation (merge,
        read, changes, compact, schema evolution, WAP staging, time
        travel) works against it unchanged. Versions are
        branch-local: 0 is the fork state. Maintenance that sweeps
        the SHARED data directory (``remove_orphans``,
        ``expire_snapshots``) is refused on a branch — run it on main,
        which counts branch-referenced files as live."""
        self._require_main("branch")
        ref = self._branch_ref_path(name)  # validates the name
        if _check and not os.path.exists(ref):
            raise ValueError(
                f"no such branch {name!r} "
                f"(have {sorted(self.branches())})")
        bt = LakeTable(self.spark, self.root)
        bt.meta_dir = os.path.join(self.branches_dir, name)
        bt.branch_name = name  # data_dir stays the shared root/data
        return bt

    def drop_branch(self, name: str, force: bool = False) -> dict:
        """Discard a branch. Refuses while it holds unpublished
        commits unless ``force`` — their exclusive data files become
        unreferenced and main's ``remove_orphans`` reclaims them on
        the normal maintenance cadence."""
        self._require_main("drop_branch")
        ref = self._branch_ref_path(name)
        bdir = os.path.join(self.branches_dir, name)
        if not (os.path.exists(ref) or os.path.isdir(bdir)):
            raise ValueError(f"no such branch {name!r}")
        head = 0
        if os.path.isdir(bdir):
            head = self.branch(name, _check=False).current_version()
        if head > 0 and not force:
            raise ValueError(
                f"branch {name!r} has {head} unpublished commit(s) — "
                f"fast_forward to publish them, or "
                f"drop_branch(force=True) to discard")
        try:
            os.remove(ref)
        except OSError:
            pass
        shutil.rmtree(bdir, ignore_errors=True)
        return {"dropped": name, "discarded_commits": head}

    def fast_forward(self, name: str) -> dict:
        """Publish a branch onto main as ONE atomic commit (Iceberg
        ``fast_forward`` analog, squash semantics): main's next
        snapshot IS the branch head's state — manifests adopted by
        hard link into main's metadata dir, schema/bucket layout and
        the exactly-once ledger carried over (epochs the branch
        absorbed are no-ops if re-delivered to main). Requires main's
        LOGICAL state to still be the fork point's: an intervening
        ingest-class commit (merge/fast_forward), rollback, or
        rebucket raises CommitConflict — re-branch on the new state
        (the ``publish_staged`` ancestry guard). LAYOUT-ONLY movement
        — compaction commits (snapshot expiry and orphan GC don't
        commit at all) — REBASES instead of conflicting: the
        out-of-band maintenance job beside an open audit branch is
        sanctioned, a compaction doesn't invalidate the audit, and
        retention kept the fork-era files alive because the branch
        references them (untouched buckets re-point at those files;
        the maintenance cadence re-compacts after the publish). A
        schema evolution on main conflicts too — adopting the head's
        fork-era schema would silently undo it.

        The published commit's manifest is the NET file diff vs the
        fork base, so downstream incremental consumers (``changes``/
        ``changes_window``, mirrors, materialized views) fold the
        branch's work as one O(branch-changes) commit. Three honest
        feed caveats travel in the lineage: a branch that REBUCKETED
        publishes with bucket pruning disabled for the feed's
        pre-state read (bucket ids changed); a branch whose history
        contains a ROLLBACK publishes feed-opaque — a revert can move
        keys to OLDER lsns, which a strictly-greater diff cannot
        represent; and a branch that ran a tombstone-dropping
        compaction (``drop_tombstones_below_lsn``) publishes
        feed-opaque too — the deletes it erased are in no published
        file, so the net diff cannot emit them. Consumers of a
        feed-opaque commit resync from a full read (the same contract
        as a rollback directly on main).

        The branch is dropped after publishing (its chain was
        branch-local-numbered; the squashed commit carries a compact
        ``branch_history`` audit trail in its lineage)."""
        self._require_main("fast_forward")
        bt = self.branch(name)
        with open(self._branch_ref_path(name)) as f:
            ref = json.load(f)
        base_version = ref["version"]
        head = bt.current_version()
        if bt.staged():
            raise ValueError(
                f"branch {name!r} has staged WAP commits — publish or "
                f"abort them on the branch before fast_forward")
        if head == 0:
            self.drop_branch(name)
            return {"published": name, "commits": 0, "noop": True,
                    "version": self.current_version()}
        cur = self.current_version()
        if cur != base_version:
            # Rebase over LAYOUT-ONLY main movement (the same
            # whitelist doctrine as _rebase_delta_merge_base): the
            # out-of-band maintenance job beside an open audit branch
            # is a sanctioned deployment, and a compaction changes
            # layout, not logical state — publishing the branch head
            # on top of it is still exactly "the audited state"
            # (untouched buckets re-point at the fork-era files,
            # which retention kept alive BECAUSE the branch
            # references them; max-LSN reads make the layouts
            # row-identical, and the maintenance cadence re-compacts).
            # A rival MERGE/fast_forward absorbed events the audit
            # never saw; a rebucket renumbered the buckets the branch
            # head's manifests are keyed by; a rollback changed state;
            # a schema evolution on main would be silently UNDONE by
            # adopting the head's fork-era schema. Only commits on the
            # explicit layout-only whitelist rebase; anything else —
            # including unknown types from a newer writer — conflicts.
            _REBASABLE = ("compaction",)
            for v in range(base_version + 1, cur + 1):
                lin = self._lineage_entry(v) or {}
                t = lin.get("type")
                if t not in _REBASABLE:
                    raise CommitConflict(
                        f"branch {name!r} forked at v{base_version} "
                        f"but the table is at v{cur} and v{v} is a "
                        f"{t or 'unknown'} commit — its commits (and "
                        f"any audit over them) assumed that exact "
                        f"base; re-create the branch on the current "
                        f"state")
            if self.snapshot()["n_buckets"] != \
                    self.snapshot(base_version)["n_buckets"]:
                raise CommitConflict(
                    f"bucket layout changed under branch {name!r} — "
                    f"re-create the branch on the current state")
        head_snap = bt.snapshot(head)
        base_snap = self.snapshot(base_version)
        version = cur + 1

        branch_history: list[dict] = []
        opaque = rebucketed = False
        for v in range(1, head + 1):
            lin = bt._lineage_entry(v) or {}
            t = lin.get("type")
            opaque |= (t == "rollback"
                       or "drop_tombstones_below_lsn" in lin)
            rebucketed |= t == "rebucket"
            branch_history.append({"branch_version": v, "type": t})
        rebucketed |= head_snap["n_buckets"] != base_snap["n_buckets"]

        # net file diff vs the fork base = the published commit's
        # manifest (written into MAIN's meta dir; the branch dir goes
        # away). Entries keep their stats/blooms — skipping survives
        # the publish.
        base_paths = {e["path"] for e in self.files(base_snap)}
        net: dict[str, list[dict]] = {}
        for b in head_snap["manifests"]:
            es = [e for e in self.files(head_snap, {int(b)})
                  if e["path"] not in base_paths]
            if es:
                net[b] = es
        man_path = self._write_manifest(version, net)

        # adopt branch-dir manifests into main's meta dir (unique
        # paths — a lost race leaves only inert residue)
        adopt: dict[str, str] = {}
        new_manifests: dict[str, list[str]] = {}
        bprefix = bt.meta_dir + os.sep
        for b, lst in head_snap["manifests"].items():
            out = []
            for p in lst:
                if p.startswith(bprefix):
                    if p not in adopt:
                        np = os.path.join(
                            self.meta_dir,
                            f"manifest-{version:08d}-"
                            f"{uuid.uuid4().hex[:12]}.json")
                        os.link(p, np)
                        adopt[p] = np
                    out.append(adopt[p])
                else:
                    out.append(p)
            new_manifests[b] = out

        lin = {
            "type": "fast_forward",
            "branch": name,
            "forked_at": base_version,
            "branch_commits": head,
            "branch_history": branch_history,
            "commit_manifest": man_path,
            "touched_buckets": sorted(int(b) for b in net),
            **({"rebased_over": cur - base_version}
               if cur != base_version else {}),
            **({"feed_opaque": True} if opaque else {}),
            **({"rebucketed": True} if rebucketed else {}),
        }
        # main's next state IS the branch head's; CommitConflict on a
        # lost race
        self._commit(self.snapshot(cur), lin, {
            **head_snap, "manifests": new_manifests,
            "correction_fences": head_snap.get("correction_fences", [])})
        self.drop_branch(name, force=True)
        return {"published": name, "version": version, "commits": head,
                "net_files": len({e["path"] for es in net.values()
                                  for e in es})}

    def _branch_file_paths(self) -> set[str]:
        """Data files referenced by ANY snapshot of ANY branch
        (including unlisted crash residue under ``branches/``, and
        branches' own staged WAP commits) — counted as live by main's
        ``expire_snapshots`` / ``remove_orphans``."""
        out: set[str] = set()
        if not os.path.isdir(self.branches_dir):
            return out
        for name in os.listdir(self.branches_dir):
            bt = self.branch(name, _check=False)
            if not os.path.isdir(bt.meta_dir):
                continue
            out |= bt._staged_file_paths()
            out.update(e["path"] for snap in bt._snapshots()
                       for e in self.files(snap))
        return out

    # --------------------------------------------- batch idempotence

    _BATCH_ID_RE = re.compile(r"^(.*?)(\d+)$")
    _RECENT_CAP = 64

    def is_applied(self, batch_id: str, snap: dict | None = None) -> bool:
        """Has this batch already committed? Numeric-suffixed ids check
        the per-prefix high-water mark (streaming epochs / replay chunks
        arrive in order — the Delta txnVersion contract); other ids
        check the bounded recent set."""
        snap = snap or self.snapshot()
        if batch_id in snap["applied_recent"]:
            return True
        m = self._BATCH_ID_RE.match(batch_id)
        if m:
            prefix, n = m.group(1), int(m.group(2))
            return n <= snap["batch_hwm"].get(prefix, -1)
        return False

    def _record_applied(self, snap: dict, batch_id: str) -> None:
        m = self._BATCH_ID_RE.match(batch_id)
        if m:
            prefix, n = m.group(1), int(m.group(2))
            snap["batch_hwm"][prefix] = max(snap["batch_hwm"].get(prefix, -1), n)
        recent = snap["applied_recent"] + [batch_id]
        snap["applied_recent"] = recent[-self._RECENT_CAP:]

    # ------------------------------------------------------- lineage

    def _lineage_entry(self, version: int) -> dict | None:
        """The single lineage entry for a commit, or None (version 0 —
        ``create``/``create_branch`` — has none). ``_commit`` embeds
        the entry in the snapshot it links, so it is committed
        atomically with the version and is the only copy."""
        return self.snapshot(version).get("lineage")

    def _commit_files(self, lin: dict) -> list[dict] | None:
        """File entries a merge/fast_forward commit wrote, from its own
        manifest — what the change feed diffs and the fence guard
        semi-joins. None once the manifest or any of its files is
        gone (``expire_snapshots``)."""
        path = lin["commit_manifest"]
        if not os.path.exists(path):
            return None
        with open(path) as f:
            entries = _manifest_entries(json.load(f))
        if any(not os.path.exists(e["path"]) for e in entries):
            return None
        return entries

    def lineage(self) -> list[dict]:
        """All lineage entries in commit order, read from the
        snapshots that embed them (snapshot JSONs are never deleted —
        retention removes data files only — so no entry is lost)."""
        return [s["lineage"] for s in self._snapshots() if "lineage" in s]

    def _snapshots(self) -> list[dict]:
        """Every snapshot in the metadata dir, in version order."""
        out = []
        for fn in sorted(os.listdir(self.meta_dir)):
            if fn.startswith("snap-") and fn.endswith(".json"):
                with open(os.path.join(self.meta_dir, fn)) as f:
                    out.append(json.load(f))
        return out

    # ---------------------------------------------------------- files

    def files(self, snap: dict | None = None,
              buckets: set[int] | None = None) -> list[dict]:
        """File entries for the given buckets (all if None), resolved
        through the per-commit manifests: one entry per (file, bucket).
        A bucket maps to an ordered LIST of manifest paths — one layer
        per merge-on-read delta commit since its last base rewrite.
        A delta layer file holds several buckets, so its path appears
        under each of them (the entries carry the file's
        ``bucket_rows``); ``_read_entries`` reads such a path once and
        keeps only the entries' buckets. Bucket pruning prunes the
        metadata reads too: only manifests owning wanted buckets load."""
        return [e for _layer, e in self._layered_files(snap, buckets)]

    def file_layers(self, snap: dict | None = None) -> list[dict]:
        """Every ``files()`` entry of a snapshot with its place in the
        layout, for the metadata tables: ``layer`` is its position in
        its bucket's manifest list (0 = base, >0 = merge-on-read delta
        layers), and ``row_span`` is the bucket's ``[lo, hi)`` range of
        the file's rows where the file holds several buckets (None
        where it holds only this one, i.e. all its rows)."""
        out = []
        for layer, e in self._layered_files(snap, None):
            span = None
            lo = 0
            for b, n in e.get("bucket_rows", {}).items():
                if int(b) == e["bucket"]:
                    span = (lo, lo + n)
                    break
                lo += n
            out.append({**e, "layer": layer, "row_span": span})
        return out

    def _layered_files(self, snap: dict | None,
                       buckets: set[int] | None) -> list[tuple[int, dict]]:
        """``files()`` as (layer index, entry) pairs."""
        snap = snap or self.snapshot()
        manifests = snap["manifests"]
        wanted = (
            set(manifests)
            if buckets is None
            else {str(b) for b in buckets if str(b) in manifests}
        )
        paths_needed: set[str] = set()
        for b in wanted:
            paths_needed.update(manifests[b])
        loaded: dict[str, dict] = {}
        for path in sorted(paths_needed):
            with open(path) as f:
                loaded[path] = json.load(f)
        return [(layer, e) for b in sorted(wanted, key=int)
                for layer, path in enumerate(manifests[b])
                for e in _manifest_entries(loaded[path], b)]

    # ---------------------------------------------------------- schema

    def fields(self, snap: dict | None = None) -> list[dict]:
        snap = snap or self.snapshot()
        return snap["schema"]["fields"]

    def key_field(self, snap: dict | None = None) -> str:
        snap = snap or self.snapshot()
        return snap["schema"]["key"]

    @staticmethod
    def _field_subset(fields: list[dict], columns: list[str] | None,
                      key: str | None = None) -> list[dict]:
        """``fields`` restricted to ``columns`` (and ``key``, when
        given), in schema order — the column-pruning check of reads,
        the change feed and column-subset mirrors. Unknown names
        raise."""
        if columns is None:
            return fields
        wanted = set(columns) | ({key} if key is not None else set())
        missing = wanted - {f["name"] for f in fields}
        if missing:
            raise ValueError(f"unknown columns: {sorted(missing)}")
        return [f for f in fields if f["name"] in wanted]

    def _full_struct(self, fields: list[dict]) -> T.StructType:
        cols = [T.StructField(f["name"], _spark_type(f["type"])) for f in fields]
        cols += [
            T.StructField(SYS_LSN, T.LongType()),
            T.StructField(SYS_DELETED, T.BooleanType()),
        ]
        return T.StructType(cols)

    def registry_version(self, snap: dict | None = None,
                         registry: dict | None = None) -> int:
        """Highest registry schema_ver already applied (monotonic guard:
        a late-arriving batch with an older schema_ver must not evolve
        the table backwards).

        When the snapshot predates registry_ver stamping, infer it as
        the highest registry version whose field list matches the
        snapshot's — defaulting to 1 would let an older batch re-apply
        a backwards rename or crash on a widen reversal."""
        snap = snap or self.snapshot()
        ver = snap["schema"].get("registry_ver")
        if ver is not None:
            return ver
        from clinical_trials_etl_spark.cdc import registry as reg

        registry = registry or reg.PAGES_REGISTRY
        mine = {(f["id"], f["name"], f["type"]) for f in self.fields(snap)}
        for v in sorted(registry, reverse=True):
            if {(f["id"], f["name"], f["type"]) for f in registry[v]} <= mine:
                return v
        return 1

    def evolve(
        self, new_fields: list[dict], note: str, registry_ver: int | None = None
    ) -> None:
        """Commit a schema-only snapshot (add / rename / widen already
        validated by cdc/registry.py)."""
        snap = self.snapshot()
        self._commit(snap, {"type": "schema-evolution", "note": note}, {
            "schema": {
                "fields": new_fields,
                "key": snap["schema"]["key"],
                "registry_ver": (
                    registry_ver
                    if registry_ver is not None
                    else self.registry_version(snap)
                ),
            }})

    # ------------------------------------------------------------ read

    def _read_entries(
        self, fields: list[dict], files: list[dict]
    ) -> DataFrame:
        """Read an explicit file-entry list, projecting each
        phys-signature group onto ``fields`` by field-id (the shared
        body of snapshot reads and the change-feed's per-commit
        manifest reads).

        Each path is read once, one scan per physical signature. A
        shared file (a delta layer holding several buckets) asked for
        only some of them yields only those buckets' rows: the scan
        keeps rows whose ``_bucket`` is null (a one-bucket file stores
        none) or in the union of the shared files' asked buckets, which
        is exact when each is asked for all its buckets inside that
        union (a bucket-pruned read). A file asked for fewer (the
        feed's newest-rewrite pruning) gets a scan of its own."""
        out_struct = self._full_struct(fields)
        if not files:
            return self.spark.createDataFrame([], out_struct)

        wanted: dict[str, tuple[dict, set[int]]] = {}
        for f in files:
            wanted.setdefault(f["path"], (f, set()))[1].add(f["bucket"])
        held = {p: {int(b) for b in f["bucket_rows"]}
                for p, (f, bs) in wanted.items() if "bucket_rows" in f}
        union = sorted({b for p in held for b in wanted[p][1]})
        groups: dict[tuple, list[str]] = {}
        partial: set[str] = set()  # signatures whose scan filters
        for path, (f, bs) in wanted.items():
            sig = json.dumps(f["phys"], sort_keys=True)
            sel = None
            if path in held and bs != held[path]:
                if bs == held[path] & set(union):
                    partial.add(sig)
                else:
                    sel = tuple(sorted(bs))
            groups.setdefault((sig, sel), []).append(path)

        parts = []
        for (sig, sel), paths in groups.items():
            phys = json.loads(sig)  # {"f_<id>": type, ...}
            # the bucket list is an array literal, which generated code
            # references rather than inlines (an IN over int literals
            # compiles a new class for each bucket set a read asks for)
            keep = None
            if sel is not None:
                keep = F.array_contains(F.array(*map(F.lit, sel)),
                                        F.col(SYS_BUCKET))
            elif sig in partial:
                keep = F.col(SYS_BUCKET).isNull() | F.array_contains(
                    F.array(*map(F.lit, union)), F.col(SYS_BUCKET))
            # explicit schema from the snapshot's recorded physical
            # signature: skips Spark's eager footer-based inference at
            # DataFrame creation (a driver-side read per call that
            # grows with file count; the signature IS the authority on
            # what these files contain — name-matched by the reader)
            phys_struct = T.StructType(
                [T.StructField(n, _spark_type(t))
                 for n, t in sorted(phys.items())]
                + [T.StructField(SYS_LSN, T.LongType()),
                   T.StructField(SYS_DELETED, T.BooleanType())]
                + ([] if keep is None
                   else [T.StructField(SYS_BUCKET, T.IntegerType())])
            )
            df = self.spark.read.schema(phys_struct).parquet(*paths)
            if keep is not None:
                df = df.filter(keep)
            proj = []
            for fld in fields:
                phys_name = f"f_{fld['id']}"
                if phys_name in phys:
                    proj.append(
                        F.col(phys_name)
                        .cast(_spark_type(fld["type"]))
                        .alias(fld["name"])
                    )
                else:  # column added after these files were written
                    proj.append(
                        F.lit(None).cast(_spark_type(fld["type"])).alias(fld["name"])
                    )
            proj += [F.col(SYS_LSN), F.col(SYS_DELETED)]
            parts.append(df.select(*proj))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @staticmethod
    def _winner_per_key(df: DataFrame, key: str,
                        *prefix: str) -> DataFrame:
        """Max-(lsn, deleted) row per key — THE winner rule: merge-on-
        read reconciliation, and merge()'s decision in both modes. One
        algebraic max_by aggregation, not a row_number window: its
        partial aggregation collapses duplicate deliveries and hot keys
        to one row per partition before the final one, where a window
        would sort a whole hot partition on one task. Grouped by the
        key alone, the partial aggregation runs map-side, before the
        key exchange; ``prefix`` puts grouping columns ahead of the key
        (``_bucket`` in ``_bucket_winners``), so an exchange on the
        prefix already clusters the aggregation and both phases run
        after it. The grouping columns ride outside the payload; the
        output keeps ``df``'s column order."""
        by = [*prefix, key]
        payload = F.struct(*[F.col(c) for c in df.columns if c not in by])
        return (
            df.groupBy(*by)
            .agg(
                F.max_by(
                    payload, F.struct(F.col(SYS_LSN), F.col(SYS_DELETED))
                ).alias("_w")
            )
            .select(*[F.col(c if c in by else f"_w.{c}")
                      for c in df.columns])
        )

    def _bucket_winners(self, df: DataFrame, key: str,
                        reconcile: bool) -> DataFrame:
        """The one plan of the bucket rewrites (COW merge, ``compact``,
        ``rebucket``): ``df`` — unreconciled rows with ``_bucket`` —
        goes through ONE exchange, hash-partitioned on ``_bucket``,
        and, where ``reconcile`` (a COW merge always; a rewrite only
        over delta layers), the winner aggregation grouped by
        (``_bucket``, key) runs on top of it with no exchange of its
        own. Max over (lsn, deleted) is associative, so aggregating
        base, layers and batch in one pass equals reconciling the
        layers first. Hash partitioning never splits a bucket, so the
        ``partitionBy(_bucket)`` write stays one file per bucket.

        The exchange is sized by column, not by the bucket count:
        ``spark.sql.shuffle.partitions`` with AQE coalescing sets the
        tasks after it, where the Arrow ``fill`` kernel runs, and each
        Python UDF task pays a fixed cost. It was ~0.3 CPU-s on a 4-core
        VM, most of it the workers re-reading ``pyspark.zip`` and the
        spark-core jar at every task start (sized at one task per
        bucket, a 16-bucket COW commit took about twice the commit
        CPU); since ``dist.install_zip_invalidation_check`` it is ~0.12
        CPU-s, two thirds of it in the JVM, and a 16-task fill pass
        still costs about three times a 4-task one."""
        df = df.repartition(F.col(SYS_BUCKET))
        return self._winner_per_key(df, key, SYS_BUCKET) if reconcile \
            else df

    def _read_reconciled(
        self,
        snap: dict,
        buckets: set[int] | None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Union of base + delta layers, reconciled to one row per key
        when any delta layer is present in the selection (merge-on-read).
        Base-only selections skip the aggregation entirely — COW data
        is already one-row-per-key at rest.

        ``columns``: data-field subset to read (the key is added if
        absent — the reconciliation groups by it). This is the
        column-pruning seam for merge-on-read reads: the winner
        aggregation packs its payload into ONE struct, which blocks
        Catalyst from pruning through it — so the pruning must happen
        here, upstream of the reconciliation (plan-gated in
        tests/test_plans.py)."""
        key = self.key_field(snap)
        if columns is not None:
            columns = list(dict.fromkeys([*columns, key]))
        entries = self.files(snap, buckets)
        df = self._read_entries(
            self._field_subset(self.fields(snap), columns), entries)
        if any(e.get("delta") for e in entries):
            df = self._winner_per_key(df, key)
        return df

    def _read_skipping(
        self,
        snap: dict,
        columns: list[str] | None,
        col: str,
        lo,
        hi,
        buckets: set[int] | None = None,
        entries: list[dict] | None = None,
    ) -> DataFrame:
        """Reconciled read that SKIPS files whose manifest ``[min,max]``
        for ``col`` is disjoint from ``[lo, hi]`` — before any scan
        task is planned (Iceberg manifest-stats pruning analog).

        Skipping is only sound where dropping a whole file cannot
        change winner resolution: in buckets with no delta layers,
        data is one-row-per-key at rest, so a skipped file's rows
        would all have been filtered anyway. A bucket with delta
        layers reads ALL its files and reconciles — a skipped delta
        file could hold the max-LSN winner for a key whose superseded
        (and in-range) row would then wrongly resurrect. The row-level
        BETWEEN filter is applied by the caller in both cases, post
        reconciliation — stats only skip, they never substitute for
        the filter.

        ``entries``: explicit file-entry list to plan from instead of
        ``files(snap, buckets)`` — the seam lookup() uses after its
        bloom pre-filter (which, being key-exact, may soundly drop
        delta files this method must keep for RANGE predicates)."""
        key = self.key_field(snap)
        fields = self.fields(snap)
        col_id = next(
            (f["id"] for f in fields if f["name"] == col), None)
        if col_id is None:
            raise ValueError(f"unknown between column {col!r}")
        phys_name = f"f_{col_id}"
        # a bound of None means open-ended (no constraint on that
        # side); a bound that fails to ENCODE disables skipping on
        # that side but the row filter still applies it
        lo_e = _stat_encode(lo) if lo is not None else None
        hi_e = _stat_encode(hi) if hi is not None else None
        fields = self._field_subset(fields, columns, key)

        by_bucket: dict[int, list[dict]] = {}
        for e in (self.files(snap, buckets)
                  if entries is None else entries):
            by_bucket.setdefault(e["bucket"], []).append(e)
        base: list[dict] = []
        layered: list[dict] = []
        for group in by_bucket.values():
            if any(e.get("delta") for e in group):
                layered += group
                continue
            for e in group:
                st = (e.get("stats") or {}).get(phys_name)
                try:
                    disjoint = st is not None and (
                        (lo_e is not None and st[1] < lo_e)
                        or (hi_e is not None and st[0] > hi_e))
                except TypeError:  # bound/stat type mismatch: keep
                    disjoint = False
                if not disjoint:
                    base.append(e)
        parts: list[DataFrame] = []
        if base or not layered:
            parts.append(self._read_entries(fields, base))
        if layered:
            parts.append(self._winner_per_key(
                self._read_entries(fields, layered), key))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(
        self,
        version: int | str | None = None,
        columns: list[str] | None = None,
        between: tuple | None = None,
        as_of=None,
    ) -> DataFrame:
        """Live rows at a snapshot (delta layers reconciled, tombstones
        filtered, system cols off).

        ``columns``: project to these fields AT THE SCAN. For COW
        tables a plain ``.select`` after read() prunes identically
        (Catalyst pushes it to the parquet scan), but on a table with
        delta layers the winner aggregation's payload struct blocks
        that pushdown — pass ``columns`` to keep a narrow read narrow
        at any table width (at design scale: reading one field of a
        page row must not scan the html blobs).

        ``between``: ``(col, lo, hi)`` — inclusive range filter on a
        data column; either bound may be None for an open end
        ('everything since T'). Evaluated against the per-file min/max stats the
        manifest records at write time so stat-disjoint files are
        skipped at the manifest (see ``_read_skipping``). Pair with
        ``compact(sort_by=col, rows_per_file=...)`` for range-clustered
        files that make the skipping effective: a time-window read of
        a year-long pages table then touches O(window) files.

        ``version`` also accepts a tag name (read-at-ref);
        ``as_of`` (epoch seconds or datetime, exclusive with
        ``version``) time-travels to the snapshot current at that
        wall-clock instant via ``version_as_of``."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass version OR as_of, not both")
            version = self.version_as_of(as_of)
        return self._read_snap(self.snapshot(version), columns, between)

    def _read_snap(
        self,
        snap: dict,
        columns: list[str] | None = None,
        between: tuple | None = None,
    ) -> DataFrame:
        if between is None:
            df = self._read_reconciled(snap, None, columns)
        else:
            col, lo, hi = between
            if lo is None and hi is None:
                raise ValueError("between needs at least one bound")
            cols = (None if columns is None
                    else list(dict.fromkeys([*columns, col])))
            df = self._read_skipping(snap, cols, col, lo, hi)
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
        out = df.filter(~F.col(SYS_DELETED)).drop(SYS_LSN, SYS_DELETED)
        if columns is not None:
            out = out.select(*columns)  # drop a key added only for dedup
        return out

    def read_raw(self, buckets: set[int] | None = None) -> DataFrame:
        """Rows incl. tombstones + system cols, reconciled to one row
        per key (merge input)."""
        return self._read_reconciled(self.snapshot(), buckets)

    def lookup(self, key_value) -> DataFrame:
        """Keyed point lookup with bucket pruning (S14 on the lake
        table): hashes the key to its single bucket, reads only that
        bucket's manifest + files — O(1) metadata and one file group
        touched regardless of table size (Iceberg bucket-partition
        pruning analog). A string key is hashed on the driver
        (``_key_bucket``), so the lookup is one Spark job, the read;
        other key types, and the bloom probes below, are evaluated by
        Spark in one extra job.

        Within the bucket, the manifest's per-file key min/max stats
        skip stat-disjoint files (same machinery and same safety rule
        as ``read(between=...)``: base-only buckets skip, layered
        buckets reconcile everything). A bucket compacted with
        ``compact(sort_by=<key>, rows_per_file=k)`` therefore serves a
        point lookup from ONE of its k-row files — sorted compaction
        on the key buys lookups the same O(window) behavior it buys
        time windows. Keys longer than the recorded-stat cap simply
        read the whole bucket (stats absent, never wrong).

        On a table created with ``key_bloom_bits``, manifest blooms
        pre-filter the bucket's files — INCLUDING delta layers, which
        the min/max rule must keep: a bloom miss is key-exact ('this
        key is definitely not in this file'), so dropping the file
        cannot change this key's winner reconciliation. That keeps
        point lookups O(files-holding-the-key) on a layer-accreting
        streaming table even between compactions. An absent bloom or
        a phys-type mismatch (widened key) keeps the file — skipping
        is an optimization, never an oracle."""
        snap = self.snapshot()
        key = self.key_field(snap)
        m_bits = snap.get("key_bloom_bits")
        key_type = next(f["type"] for f in self.fields(snap)
                        if f["name"] == key)
        fid = next(f["id"] for f in self.fields(snap)
                   if f["name"] == key)
        bucket = None if m_bits else self._key_bucket(
            snap, key_type, key_value)
        if bucket is None:
            lit_k = F.lit(key_value).cast(_spark_type(key_type))
            sel = [self.bucket_expr(lit_k).alias("b")] + (
                [] if not m_bits else
                [self._bloom_probe_expr(lit_k, j, m_bits).alias(f"p{j}")
                 for j in range(self._BLOOM_K)]
            )
            row = self.spark.range(1).select(*sel).collect()[0]
            bucket = row["b"]
        entries = None
        if m_bits:
            probes = [row[f"p{j}"] for j in range(self._BLOOM_K)]
            phys_key = f"f_{fid}"

            def _may_contain(e: dict) -> bool:
                bloom = e.get("key_bloom")
                if bloom is None or e["phys"].get(phys_key) != key_type:
                    return True  # no/unusable bloom: never skip
                return all(
                    (bloom[p // 64] >> (p % 64)) & 1 for p in probes)

            entries = [e for e in self.files(snap, {bucket})
                       if _may_contain(e)]
        df = self._read_skipping(
            snap, None, key, key_value, key_value, buckets={bucket},
            entries=entries)
        return (
            df.filter(F.col(key) == key_value)
            .filter(~F.col(SYS_DELETED))
            .drop(SYS_LSN, SYS_DELETED)
        )

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        net: bool = True,
        columns: list[str] | None = None,
        pre_images: bool = False,
    ) -> DataFrame:
        """Change data feed (Delta CDF / Iceberg incremental-scan
        analog): the net post-image row changes between two snapshots,
        so a downstream consumer reads O(changes) — never re-scans the
        table. Output = the data columns at ``to_version``'s schema
        plus ``_lsn`` (long), ``_change_type`` ('upsert' | 'delete')
        and ``_commit_version`` (long). Applying the feed to a copy of
        the ``from_version`` state in commit order (last write per key
        wins, 'delete' removes) reproduces the ``to_version`` state
        exactly; maintenance commits (compaction, rebucket, schema
        evolution) emit no rows because they change no logical state.
        A ``rollback`` commit in the range fails fast instead — a
        revert can undo any number of prior commits at once and is not
        incrementally foldable; downstream consumers resync from a
        full read.

        Each merge/fast_forward commit ``v`` in the range is diffed on
        its own against the ``v - 1`` state and its rows carry
        ``_commit_version = v`` (``changes_window`` runs the same diff
        once over the whole range). The diff reads the commit's own
        files — a delta-mode commit's layer files ARE the change rows
        (O(batch)); a COW commit's rewritten buckets carry changed and
        carried-over rows — and the pre-state's touched buckets
        COLUMN-PRUNED to (key, lsn, deleted), so the pre-image
        payloads never leave the parquet scan. A row changed iff its
        (lsn, deleted) winner strictly beats the pre-state's (lsn
        monotonicity of the merge winner rule), so no payload compare
        is needed and carried-over rows drop out.

        ``columns`` prunes the feed to a field subset AT THE SCAN (the
        key always rides along) — same seam as ``read(columns=...)``
        and for the same reason: the winner aggregation blocks
        Catalyst from pruning through its payload struct.

        ``net=False`` skips the pre-state diff for delta-mode commits
        and emits their layer rows as-is — the cheapest possible feed
        (zero pre-reads), but it may include rows that lost to the
        base state (late, lower-lsn arrivals). Consumers of the raw
        feed must apply with the engine's max-(lsn, deleted) rule
        rather than last-write-wins; net=True feeds are safe for both.

        ``pre_images=True`` switches to Delta-CDF image semantics: an
        update emits BOTH its old row (``_change_type =
        'update_preimage'``, values and ``_lsn`` from the pre-state)
        and its new row (``'update_postimage'``); a first write emits
        ``'insert'``; a delete emits one ``'delete'`` row carrying the
        OLD values (a tombstone for a key that was not live emits
        nothing). Because each commit's pre-image equals the previous
        commit's post-image, signed contributions telescope across a
        multi-commit window — the property incremental aggregate
        maintenance needs (cdc/ivm.py): sum(+post, -pre) over any
        window equals the aggregate delta between its endpoint
        snapshots. The pre-state read is then wide (prune it with
        ``columns`` — aggregates only need their grouping/value
        fields). Requires ``net=True``.

        The feed is readable as far back as snapshot retention:
        ``expire_snapshots`` removes old versions' files, after which
        ``changes`` over that range raises (same window as time
        travel). Reference analog: consumers of the reference's store
        re-poll full collections (trials_extractor/storage/
        mongodb_storage.py) — there is no incremental surface; this is
        the Spark-native replacement."""
        return self._feed(from_version, to_version, columns, pre_images,
                          net=net, per_commit=True)

    def changes_window(
        self,
        from_version: int,
        to_version: int | None = None,
        columns: list[str] | None = None,
        pre_images: bool = False,
    ) -> DataFrame:
        """The NET change feed of the whole window: ``changes()``'s
        diff run ONCE over all the window's merge/fast_forward commits
        against the ``from_version`` state, every row stamped
        ``_commit_version = to_version``. The post side is the per-key
        winners of those commits' own files, so a key's churn inside
        the window collapses to its last write — and a tombstone a
        later compaction erased still surfaces as the delete it was.
        A bucket that a COW merge in the window rewrote is read from
        its newest rewrite (plus the layers after it) only: that
        rewrite holds the bucket's whole state, so a long COW window
        reads each touched bucket about once, not once per commit.

        Because per-commit pre-images equal the previous commit's
        post-images, intermediate images telescope away — the signed
        per-group contributions of this feed are IDENTICAL to the
        per-commit feed's (pinned in tests/test_change_feed.py), from
        one plan arm instead of one per commit. This is the consumer a
        refresh cadence wants (cdc/mirror.py, cdc/ivm.py); a
        one-commit window is exactly ``changes()`` over that commit.
        Consumers that need per-commit granularity keep using
        ``changes()``.

        Output schema and ``pre_images``/``columns`` semantics match
        ``changes()``; a key whose end-state winner equals its
        start-state winner emits nothing. A key inserted AND deleted
        inside the window emits no pre/post image pair — in net mode
        it surfaces as a single ``delete`` row (an idempotent no-op
        for a consumer that never saw the key), so downstream folds
        land on the same state either way. Raises on rollbacks in
        range and on windows whose files were removed by
        ``expire_snapshots`` (same contracts as ``changes()``)."""
        return self._feed(from_version, to_version, columns, pre_images,
                          net=True, per_commit=False)

    def _feed(
        self,
        from_version: int,
        to_version: int | None,
        columns: list[str] | None,
        pre_images: bool,
        net: bool,
        per_commit: bool,
    ) -> DataFrame:
        """The change feed's one diff. Walks the merge/fast_forward
        commits in ``(from_version, to_version]`` (refusing rollbacks
        and expired files) and diffs each commit against its
        predecessor (``per_commit``) or all of them at once against
        ``from_version``.

        The diff of a commit set S over pre-state p: the post side is
        the per-key winners of S's own files, the pre side the per-key
        winners of p's buckets that S touched, and a key changed iff
        its post winner strictly beats its pre winner (or it had no
        pre row). A key's state after S is the max-(lsn, deleted)
        winner of its row at p and the rows S wrote, so this is exact
        for any S."""
        current = self.current_version()
        if to_version is None:
            to_version = current
        if not (0 <= from_version <= to_version <= current):
            raise ValueError(
                f"invalid change range {from_version}..{to_version} "
                f"(current version {current})")
        if pre_images and not net:
            raise ValueError("pre_images requires the net feed "
                             "(raw layer rows have no pre-state)")

        to_snap = self.snapshot(to_version)
        key = self.key_field(to_snap)
        fields = self._field_subset(self.fields(to_snap), columns, key)
        pre_fields = (fields if pre_images
                      else [f for f in fields if f["name"] == key])

        commits: list[tuple[int, dict, list[dict]]] = []
        relayouts: list[int] = []
        # versions across which a later COW rewrite of a bucket does NOT
        # stand for the earlier rows written there (see newest_files)
        barriers: list[int] = []
        for v in range(from_version + 1, to_version + 1):
            lin = self._lineage_entry(v) or {}
            if lin.get("type") == "rollback" or lin.get("feed_opaque"):
                # a revert is not incrementally foldable (it can undo
                # any number of prior commits at once) — fail fast
                # rather than silently emit nothing for a commit that
                # DID change logical state; consumers resync from a
                # full read (cdc/mirror.py / cdc/ivm.py: recreate).
                # Same for a fast_forward (feed_opaque) publishing a
                # branch that rolled back or compacted tombstones away.
                raise ValueError(
                    f"change range {from_version}..{to_version} "
                    f"crosses a rollback, or a branch publish with a "
                    f"rollback or a tombstone-dropping compaction, at "
                    f"v{v} — resync downstream state from a full read "
                    f"instead")
            if lin.get("type") == "rebucket" or lin.get("rebucketed"):
                # bucket numbers recorded from here on address other
                # keys in any older state (a rebucket, or a
                # fast_forward of a branch that rebucketed)
                relayouts.append(v)
            if (v in relayouts or lin.get("type") == "fast_forward"
                    or "drop_tombstones_below_lsn" in lin):
                barriers.append(v)
            if lin.get("type") not in ("merge", "fast_forward"):
                continue  # maintenance/evolution: no logical change
            entries = self._commit_files(lin)
            if entries is None:
                raise ValueError(
                    f"change feed for commit v{v} is no longer "
                    f"readable: its files were removed by "
                    f"expire_snapshots — start from a retained version")
            if entries:
                commits.append((v, lin, entries))

        def newest_files(group: list) -> list:
            """``group`` without the files a LATER COW merge in it
            rewrote. A COW merge's files for its touched buckets are
            those buckets' whole state, so they hold the winner of every
            earlier row there and the post side reads each bucket's
            newest rewrite once, not once per commit. Not across a
            barrier: after a relayout the earlier bucket numbers
            address other keys, and a compaction that erased tombstones
            (directly, or on a published branch) leaves the later state
            without a delete the earlier rows still show."""
            covered: set[int] = set()
            seg, out = None, []
            for v, lin, es in reversed(group):
                s = sum(b <= v for b in barriers)
                if s != seg:
                    covered, seg = set(), s
                out.append((v, lin, [e for e in es
                                     if e["bucket"] not in covered]))
                if lin["type"] == "merge" and not any(
                        e.get("delta") for e in es):
                    covered |= set(lin["touched_buckets"])
            return out[::-1]

        def diff(pre_version: int, group: list, version: int) -> list:
            entries = [e for _v, _lin, es in group for e in es]
            all_delta = all(e.get("delta") for e in entries)
            rows = self._read_entries(fields, entries)
            # pruning the pre-state by bucket is unsound across a
            # relayout inside the set
            relaid = any(pre_version < r <= group[-1][0]
                         for r in relayouts)
            # a merge writes one row per key; two commits' files for one
            # bucket (or for any buckets across a relayout), or a
            # fast_forward's net manifest mixing branch commits, may
            # each hold a row for a key
            writers: dict[int, set[int]] = {}
            for v, _lin, es in group:
                for e in es:
                    writers.setdefault(e["bucket"], set()).add(v)
            one_writer = (len({v for v, _lin, es in group if es}) == 1
                          or (not relaid
                              and all(len(w) == 1
                                      for w in writers.values())))
            post = rows
            if not one_writer or any(lin["type"] == "fast_forward"
                                     for _v, lin, es in group if es):
                post = self._winner_per_key(rows, key)
            ver = F.lit(version).cast("long").alias("_commit_version")
            data = [F.col(f["name"]) for f in fields]

            def net_rows(df: DataFrame) -> list[DataFrame]:
                return [df.select(
                    *data, F.col(SYS_LSN).alias("_lsn"),
                    F.when(F.col(SYS_DELETED), F.lit("delete"))
                    .otherwise(F.lit("upsert")).alias("_change_type"),
                    ver)]

            if all_delta and not net:
                return net_rows(post)
            touched: set[int] = set()
            for _v, lin, es in group:
                touched |= set(lin.get("touched_buckets")
                               or {e["bucket"] for e in es})
            pre_entries = self.files(self.snapshot(pre_version),
                                     None if relaid else touched)
            if any(not os.path.exists(e["path"]) for e in pre_entries):
                raise ValueError(
                    f"pre-state v{pre_version} is no longer readable: "
                    f"its files were removed by expire_snapshots — "
                    f"start from a retained version")
            pre = self._read_entries(pre_fields, pre_entries)
            if all_delta:
                # delta layers carry only the O(batch) candidate keys:
                # semi-join the pre-state down to them BEFORE its
                # winner aggregation (AQE broadcasts the small key
                # side); COW rewrites carry every key of their
                # buckets, where the filter would keep everything
                pre = pre.join(rows.select(key), key, "left_semi")
            if any(e.get("delta") for e in pre_entries):
                pre = self._winner_per_key(pre, key)
            pre = pre.select(
                F.col(key),
                *[F.col(f["name"]).alias(f"_pre_{f['name']}")
                  for f in pre_fields if f["name"] != key],
                F.col(SYS_LSN).alias("_pre_lsn"),
                F.col(SYS_DELETED).alias("_pre_del"),
            )
            changed = post.join(pre, key, "left").where(
                F.col("_pre_lsn").isNull()
                | (F.struct(F.col(SYS_LSN), F.col(SYS_DELETED))
                   > F.struct(F.col("_pre_lsn"), F.col("_pre_del"))))
            if not pre_images:
                return net_rows(changed)
            pre_live = F.col("_pre_lsn").isNotNull() & ~F.col("_pre_del")
            return [
                # post-side rows: the new live values
                changed.where(~F.col(SYS_DELETED)).select(
                    *data, F.col(SYS_LSN).alias("_lsn"),
                    F.when(pre_live, F.lit("update_postimage"))
                    .otherwise(F.lit("insert")).alias("_change_type"),
                    ver),
                # pre-side rows: the superseded live values (a
                # tombstone for a key that was not live emits nothing)
                changed.where(pre_live).select(
                    F.col(key),
                    *[F.col(f"_pre_{f['name']}").alias(f["name"])
                      for f in fields if f["name"] != key],
                    F.col("_pre_lsn").alias("_lsn"),
                    F.when(F.col(SYS_DELETED), F.lit("delete"))
                    .otherwise(F.lit("update_preimage"))
                    .alias("_change_type"),
                    ver),
            ]

        if per_commit:
            groups = [(c[0] - 1, [c], c[0]) for c in commits]
        else:
            groups = ([(from_version, newest_files(commits), to_version)]
                      if commits else [])
        parts = [p for g in groups for p in diff(*g)]
        if not parts:
            schema = T.StructType(
                [T.StructField(f["name"], _spark_type(f["type"]))
                 for f in fields]
                + [T.StructField("_lsn", T.LongType()),
                   T.StructField("_change_type", T.StringType()),
                   T.StructField("_commit_version", T.LongType())]
            )
            return self.spark.createDataFrame([], schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ----------------------------------------------------- maintenance

    def compact(self, max_files_per_bucket: int = 1,
                sort_by: str | list[str] | None = None,
                rows_per_file: int | None = None,
                zorder_by: list[str] | None = None,
                drop_tombstones_below_lsn: int | None = None) -> dict:
        """Small-file compaction (Iceberg rewrite_data_files analog):
        rewrite every bucket holding more than ``max_files_per_bucket``
        files into one file per bucket, commit as a new snapshot. Data
        is unchanged (tombstones retained — compaction must not lose
        the delete guard); only file layout and metadata shrink.
        Needed at design scale: each ``mode="delta"`` streaming commit
        adds a delta layer to every bucket it touches (one file shared
        by those buckets), so buckets accrete
        O(commits-since-compaction) small layers whose read-side
        reconciliation would otherwise dominate scan costs — compaction
        is the amortized half of the merge-on-read bargain.

        ``sort_by``: cluster rows within each bucket by this column —
        or lexicographically by a LIST of columns (Iceberg SORT ORDER
        analog; the leading column gets full range clustering, later
        columns cluster within leading-value ties) — during the
        rewrite, and cap output files at ``rows_per_file`` rows so
        each bucket splits into contiguous sorted ranges. Every
        written file's min/max for the leading column then covers a
        narrow slice, which is what makes the manifest stats recorded
        at write time effective:
        ``read(between=(sort_by, lo, hi))`` skips the disjoint files
        at the manifest, before any scan task is planned. At design
        scale this is the 'query yesterday's pages out of a year-long
        table' path — time-windowed reads touch O(window) files, not
        O(table). With ``sort_by`` set, ALL buckets rewrite (range
        clustering is the point, not just file count).

        ``zorder_by``: cluster by the Morton (Z-order) interleaving of
        two-or-more orderable columns instead (Iceberg
        ``rewrite_data_files`` Z-order strategy analog; Morton 1966).
        A lexicographic multi-column sort range-clusters only its
        LEADING column — a window read on the second column still
        plans every file. Z-ordering interleaves the dimensions'
        bits, so each written file's min/max box is tight on EVERY
        Z dimension (~F^(1/D) of the range per file across F files)
        and ``read(between=...)`` skips on whichever dimension the
        query constrains. Dimension normalization bounds come from one
        min/max aggregation over the rewrite input (2 scalars per
        dimension to the driver); the key itself is a static JVM
        shift/mask expression tree — no Python in the rewrite path.
        Layout-only: the read side is untouched, the existing manifest
        stats + skipping machinery does the pruning.

        ``drop_tombstones_below_lsn``: ALSO drop tombstone rows whose
        lsn is strictly below this value during the rewrite — the
        Kafka compacted-topic ``delete.retention.ms`` analog, and the
        final step of full key erasure after ``delete_where`` (a
        retained tombstone necessarily keeps its key — that is what
        the late-arrival guard matches on). The operator asserts the
        source's watermark has passed the threshold: an event below
        it can no longer arrive, so the guard those tombstones
        provided is vacuous and dropping them cannot change any
        future reconciliation. Live rows are NEVER dropped regardless
        of lsn. Buckets are pruned by manifest lsn stats (a bucket
        whose every file's min lsn is at/above the threshold holds no
        droppable tombstone). The same claim retires every
        ``update_where`` correction fence below the threshold, so later
        merges stop paying the fence guard's probe.

        Concurrency: compaction is the one op sanctioned to run beside
        the ingest stream. Losing the snapshot-commit race to
        delta-merge commits does not discard the rewrite — the commit
        REBASES, adopting the winners' new layers on top of the
        compacted base (Iceberg RewriteFiles validation analog; see
        ``_rebase_rewrite_base``). A winner that rewrote the
        compaction's inputs (COW merge, another compaction, rebucket,
        rollback) raises CommitConflict: the folded data is stale,
        rerun the compaction."""
        snap = self.snapshot()
        if zorder_by is not None and sort_by is not None:
            raise ValueError("sort_by and zorder_by are exclusive")
        listed = self.files(snap)
        counts: dict[int, int] = {}
        for f in listed:
            counts[f["bucket"]] = counts.get(f["bucket"], 0) + 1
        if zorder_by is not None:
            z_cols = list(zorder_by)
            if len(z_cols) < 2:
                raise ValueError("zorder_by needs >=2 columns "
                                 "(use sort_by for one)")
            by_name = {f["name"]: f for f in self.fields(snap)}
            unknown = [c for c in z_cols if c not in by_name]
            if unknown:
                raise ValueError(f"unknown zorder_by columns {unknown}")
            bad = [c for c in z_cols
                   if by_name[c]["type"] not in _STAT_TYPES]
            if bad:
                raise ValueError(
                    f"zorder_by columns not orderable: {bad}")
            fat = set(counts)
        elif sort_by is not None:
            sort_cols = ([sort_by] if isinstance(sort_by, str)
                         else list(sort_by))
            known = {f["name"] for f in self.fields(snap)}
            unknown = [c for c in sort_cols if c not in known]
            if unknown:
                raise ValueError(f"unknown sort_by columns {unknown}")
            fat = set(counts)
        else:
            fat = {b for b, c in counts.items()
                   if c > max_files_per_bucket}
        if drop_tombstones_below_lsn is not None:
            thr = int(drop_tombstones_below_lsn)
            for e in listed:
                st = (e.get("stats") or {}).get(SYS_LSN)
                if st is None or int(st[0]) < thr:
                    fat.add(e["bucket"])

        def retired(base: dict) -> dict:
            # the same watermark claim retires correction fences: no
            # event below it can arrive to collide with one
            if drop_tombstones_below_lsn is None:
                return {}
            return {"correction_fences": [
                p for p in base.get("correction_fences", [])
                if p[0] >= int(drop_tombstones_below_lsn)]}

        if not fat:
            kept = retired(snap).get("correction_fences")
            if kept is None or kept == snap.get("correction_fences", []):
                return {"compacted_buckets": 0, "version": snap["version"]}
            # no bucket to rewrite, but fences to retire
            snap2 = self._commit(
                snap, {"type": "compaction", "buckets": [],
                       "drop_tombstones_below_lsn":
                       int(drop_tombstones_below_lsn)},
                retired, rebase=self.snapshot)
            return {"compacted_buckets": 0, "version": snap2["version"],
                    "rebases": snap2["lineage"].get("rebases", 0)}

        # one pass over the fat buckets' files, layers unreconciled:
        # where delta layers are present the winner aggregation after
        # the bucket exchange folds them with the same max-(lsn,
        # deleted) rule reads use, so the compacted base is
        # byte-equivalent to the pre-compaction view (tombstones
        # retained — the delete guard must survive)
        entries = [e for e in listed if e["bucket"] in fat]
        key = self.key_field(snap)
        df = self._bucket_winners(
            self._read_entries(self.fields(snap), entries).withColumn(
                SYS_BUCKET, self.bucket_expr(F.col(key))),
            key, any(e.get("delta") for e in entries))
        if drop_tombstones_below_lsn is not None:
            # erase expired tombstones (see docstring) — applied AFTER
            # reconciliation, so only a key's WINNING row can qualify;
            # live rows never match the filter
            df = df.filter(~(F.col(SYS_DELETED)
                             & (F.col(SYS_LSN)
                                < int(drop_tombstones_below_lsn))))
        if sort_by is not None:
            # sorted runs per bucket directory: with maxRecordsPerFile
            # the writer splits each directory's sequential sorted rows
            # into files, so every file is one contiguous value range
            df = df.sortWithinPartitions(
                F.col(SYS_BUCKET), *[F.col(c) for c in sort_cols])
        elif zorder_by is not None:
            by_name = {f["name"]: f for f in self.fields(snap)}
            aggs = []
            for i, c in enumerate(z_cols):
                # string dims aggregate the RAW min/max (the rank
                # window position depends on their common prefix,
                # known only after this job); others aggregate the
                # rank directly
                src = (F.col(c) if by_name[c]["type"] == "string"
                       else _zorder_rank_expr(c, by_name[c]["type"]))
                aggs += [F.min(src).alias(f"lo{i}"),
                         F.max(src).alias(f"hi{i}")]
            # one min/max aggregation over the rewrite's rows (column
            # pruning leaves a base-only rewrite's exchange the key and
            # the Z columns); the collect is 2 scalars per dimension
            # (bounded driver metadata, like the bloom/stats jobs)
            b = df.agg(*aggs).collect()[0]
            ranks, bounds = [], []
            for i, c in enumerate(z_cols):
                dtype = by_name[c]["type"]
                lo, hi = b[f"lo{i}"], b[f"hi{i}"]
                if dtype == "string":
                    # rank the 6 bytes AFTER the dimension-wide common
                    # prefix (shared by every value between min and
                    # max), and derive the bounds driver-side from the
                    # min/max strings — rank is order-preserving, so
                    # rank(min)/rank(max) ARE lo/hi (no second job)
                    off = (_lcp_bytes(lo, hi)
                           if lo is not None and hi is not None else 0)
                    ranks.append(_zorder_rank_expr(c, "string",
                                                   str_offset=off))
                    lo = (None if lo is None
                          else _zorder_str_rank_value(lo, off))
                    hi = (None if hi is None
                          else _zorder_str_rank_value(hi, off))
                else:
                    ranks.append(_zorder_rank_expr(c, dtype))
                bounds.append((lo, hi))
            norms = [_zorder_norm(r, lo, hi, len(ranks))
                     for r, (lo, hi) in zip(ranks, bounds)]
            df = df.sortWithinPartitions(
                F.col(SYS_BUCKET), _zorder_key(norms))
        by_bucket, _rows = self._write_files(
            snap, df, "compact", rows_per_file=rows_per_file)
        # Manifests are path-referenced everywhere (the change feed
        # resolves a merge's own manifest from its lineage entry), so
        # the rewrite's manifest is written ONCE at a unique path and
        # re-pointed across commit retries — no writer can clobber
        # another's file list during the write-then-commit window.
        manifest_path = self._write_manifest(snap["version"] + 1, by_bucket)
        lin = {"type": "compaction", "buckets": sorted(fat),
               **({"sort_by": sort_cols} if sort_by else {}),
               **({"zorder_by": z_cols} if zorder_by else {}),
               **({"drop_tombstones_below_lsn":
                   int(drop_tombstones_below_lsn)}
                  if drop_tombstones_below_lsn is not None else {})}
        # Commit with rebase-on-conflict (Iceberg RewriteFiles
        # validation analog): losing the commit race to the ingest
        # stream must not waste the data rewrite above. As long as
        # every input layer this compaction folded is STILL the prefix
        # of its bucket's manifest list in the winner's snapshot —
        # true when the concurrent commits only APPENDED delta layers,
        # the streaming-ingest shape — the new layers are adopted ON
        # TOP of the compacted base: their rows carry newer LSNs, so
        # the usual max-(lsn, deleted) reconciliation yields exactly
        # "compact, then apply the concurrent batch". Anything that
        # REWROTE an input (COW merge, another compaction, rebucket,
        # rollback) makes the folded data stale — hard CommitConflict,
        # rerun the compaction.
        consumed = {str(b): list(snap["manifests"].get(str(b), []))
                    for b in fat}

        def compacted(base: dict) -> dict:
            manifests = {b: list(v) for b, v in base["manifests"].items()}
            for b in fat:
                sb = str(b)
                adopted = base["manifests"].get(sb, [])[len(consumed[sb]):]
                rebased = ([manifest_path] if sb in by_bucket else []) \
                    + adopted
                if rebased:
                    manifests[sb] = rebased
                else:
                    manifests.pop(sb, None)
            return {"manifests": manifests, **retired(base)}

        snap2 = self._commit(
            snap, lin, compacted,
            rebase=lambda: self._rebase_rewrite_base(snap, fat, consumed))
        return {"compacted_buckets": len(fat), "version": snap2["version"],
                "rebases": snap2["lineage"].get("rebases", 0)}

    def _rebase_rewrite_base(self, snap0: dict, fat: set[int],
                             consumed: dict[str, list[str]]) -> dict:
        """Validate that a layout rewrite staged against ``snap0`` can
        re-commit on top of the CURRENT snapshot after losing a commit
        race, and return that snapshot to rebase onto. Sound iff the
        winner(s) did not rewrite any of the rewrite's inputs: per
        rewritten bucket the current manifest list must still START
        WITH the exact layer list the rewrite folded (concurrent delta
        merges only append), under the same bucket layout. Concurrent
        schema evolution is fine — the rebase adopts the current
        schema, and every file entry carries its own physical
        signature, so the rewritten files read back like any other
        pre-evolution files. Raises CommitConflict when the folded
        data is stale (COW merge / compaction / rollback / rebucket
        touched an input)."""
        cur = self.snapshot()
        if cur["n_buckets"] != snap0["n_buckets"]:
            raise CommitConflict(
                "a concurrent rebucket changed the partition layout "
                "under this compaction — rerun it on the new layout")
        for b in sorted(fat):
            sb = str(b)
            want = consumed[sb]
            if cur["manifests"].get(sb, [])[: len(want)] != want:
                raise CommitConflict(
                    f"bucket {sb}'s files were rewritten by a "
                    f"concurrent commit — this compaction's inputs "
                    f"are stale, rerun it")
        return cur

    def rebucket(self, n_buckets: int) -> dict:
        """Partition evolution (Iceberg
        ``REPLACE PARTITION FIELD bucket(old, key) WITH bucket(new, key)``
        analog): rewrite the table under a new bucket count and commit
        it as one snapshot. Needed at design scale — a bucket count
        sized for the first 10^8 rows concentrates too many rows per
        bucket at 10^10, and COW merge / pruning granularity is per
        bucket. ``n_buckets`` lives in the snapshot, so earlier
        snapshots keep reading their own layout (time travel intact)
        and every post-rebucket merge hashes with the new count.
        Tombstones survive the rewrite (same winner-rule reconciled
        read as compaction).

        Unlike ``compact``, a rebucket that loses a commit race fails
        fast (no rebase): its inputs are EVERY bucket, and a
        concurrent delta layer is hashed with the OLD bucket count —
        adopting it under the new layout would misroute its keys.
        Rerun the rebucket in a quiesced window."""
        snap = self.snapshot()
        if n_buckets == snap["n_buckets"]:
            return {"rebucketed": False, "version": snap["version"]}
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        key = self.key_field(snap)
        entries = self.files(snap)
        df = self._read_entries(self.fields(snap), entries).withColumn(
            SYS_BUCKET,
            F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))
        by_bucket, _rows = self._write_files(snap, self._bucket_winners(
            df, key, any(e.get("delta") for e in entries)), "rebucket")
        manifest_path = self._write_manifest(snap["version"] + 1, by_bucket)
        lin = {
            "type": "rebucket",
            "from": snap["n_buckets"],
            "to": n_buckets,
        }
        # the old layout's manifests are fully superseded
        snap2 = self._commit(snap, lin, {
            "n_buckets": n_buckets,
            "manifests": {b: [manifest_path] for b in by_bucket}})
        return {"rebucketed": True, "version": snap2["version"],
                "n_buckets": n_buckets}

    def expire_snapshots(self, keep_last: int = 2,
                         older_than_s: float | None = None) -> dict:
        """Delete data files no snapshot in the retained window
        references (Iceberg expire_snapshots analog). Keeps the last
        ``keep_last`` snapshots readable (time travel window); older
        snapshot JSONs remain (tiny) but their exclusive files go.
        ``older_than_s`` ADDS age-based retention (Iceberg
        ``expire_snapshots(older_than=ts, retain_last=N)``): every
        snapshot committed within the last ``older_than_s`` seconds is
        also kept, with ``keep_last`` as the floor — 'keep 72 hours of
        time travel, and never fewer than 2 snapshots'. Commit
        timestamps are stamped at snapshot-link time and monotone in
        version, so the age walk stops at the first too-old snapshot
        (O(retained) metadata reads).
        Tagged versions are ALWAYS retained — a tag is an explicit pin
        that outranks the sliding window (Iceberg ref-aware snapshot
        retention), so audit/repro reads stay valid until the tag is
        dropped. Staged WAP commits' files are likewise protected
        until published or aborted, and so are files referenced by any
        BRANCH snapshot (a branch pins its whole chain until published
        or dropped)."""
        self._require_main("expire_snapshots")
        current = self.current_version()
        window = {
            v
            for v in range(max(0, current - keep_last + 1), current + 1)
            if os.path.exists(self._snap_path(v))
        }
        if older_than_s is not None:
            cutoff = time.time() - older_than_s
            for v in range(current, -1, -1):
                if not os.path.exists(self._snap_path(v)):
                    continue
                if self.snapshot(v).get("committed_at", 0) < cutoff:
                    break  # monotone timestamps: everything below is older
                window.add(v)
        keep_versions = sorted(
            window
            | {
                v for v in self.tags().values()
                if os.path.exists(self._snap_path(v))
            }
        )
        live: set[str] = self._staged_file_paths() | self._branch_file_paths()
        for v in keep_versions:
            for f in self.files(self.snapshot(v)):
                live.add(f["path"])
        removed = 0
        for dirpath, _dirs, files in os.walk(self.data_dir):
            for fn in files:
                path = os.path.join(dirpath, fn)
                if fn.endswith(".parquet") and path not in live:
                    os.remove(path)
                    removed += 1
        return {"removed_files": removed, "kept_versions": keep_versions}

    def history(self) -> list[dict]:
        """Commit history, newest first (Delta DESCRIBE HISTORY /
        Iceberg snapshots-metadata analog): one row per EXISTING
        snapshot with its commit timestamp, parent, operation type and
        the commit's lineage detail (epoch, touched buckets, lsn
        range, row counts — whatever that operation recorded), read
        from the lineage entry the snapshot embeds. Retention deletes
        data files, never snapshot JSONs, so every commit appears.
        Driver-side metadata only — no Spark job. Rows carry the tags
        pinning their version, if any."""
        by_version: dict[int, list[str]] = {}
        for name, v in self.tags().items():
            by_version.setdefault(v, []).append(name)
        out: list[dict] = []
        for snap in reversed(self._snapshots()):
            lin = snap.get("lineage")
            out.append({
                "version": snap["version"],
                "parent": snap["parent"],
                "committed_at": snap["committed_at"],
                "operation": (lin or {}).get(
                    "type", "create" if snap["version"] == 0 else None),
                "n_buckets": snap["n_buckets"],
                "tags": sorted(by_version.get(snap["version"], [])),
                "detail": lin or {},
            })
        return out

    def rollback(self, version: int | str) -> dict:
        """Restore the table to snapshot ``version`` as a NEW commit
        (Iceberg rollback / Delta RESTORE analog) — metadata-only: the
        new snapshot re-references the target's manifests, no data
        moves, and every intermediate version stays time-travel
        readable (the bad history is preserved evidence, not erased).

        The idempotency ledger (``batch_hwm``/``applied_recent``)
        restores to the TARGET's values on purpose: re-delivering the
        epochs that came after ``version`` must re-APPLY, not no-op —
        that is the point of a CDC rollback (bad-deploy recovery: roll
        back, fix the code, replay the same log segments). Schema and
        bucket count restore too — a bad evolution or rebucket is as
        revertible as bad data.

        Downstream increments: ``changes()`` over a window containing
        a rollback commit fails fast (a revert is not incrementally
        foldable); mirrors and materialized views resync from a full
        read.

        ``version`` also accepts a tag name — ``rollback("pre-deploy")``
        is the recovery drill's natural spelling."""
        if isinstance(version, str):
            version = self._resolve_ref(version)
        cur = self.current_version()
        if not 0 <= version <= cur:
            raise ValueError(
                f"cannot roll back to v{version} (current {cur})")
        if version == cur:
            return {"rolled_back_to": version, "version": cur,
                    "noop": True}
        target = self.snapshot(version)
        for e in self.files(target):
            if not os.path.exists(e["path"]):
                raise ValueError(
                    f"v{version} is no longer readable (files removed "
                    f"by expire_snapshots) — cannot roll back to it")
        # the whole state — schema, layout, files, ledger and fences —
        # is the target's
        snap2 = self._commit(
            self.snapshot(cur), {"type": "rollback", "to": version},
            {**target,
             "correction_fences": target.get("correction_fences", [])})
        return {"rolled_back_to": version, "version": snap2["version"]}

    def remove_orphans(self, older_than_s: float = 86400.0) -> dict:
        """Delete data files NO existing snapshot references (Iceberg
        remove_orphan_files analog). Every write path in this format
        produces its parquet output FIRST and commits the snapshot
        SECOND — a crash in that window leaves the table consistent
        but strands the output directory forever; nothing ever
        references it, so ``expire_snapshots`` retention math never
        touches it either. This reclaims exactly that residue while
        keeping EVERY snapshot readable (unlike expire, which trades
        time-travel depth for space).

        ``older_than_s``: only files at least this old are swept — the
        guard that makes the sweep safe to schedule next to in-flight
        writes (a file being written RIGHT NOW is young, unreferenced,
        and must survive). Iceberg's remove_orphan_files defaults to
        3 days for the same reason; crash residue is by definition old
        by the time a maintenance job runs.

        Staged (unpublished) WAP commits' files count as referenced —
        a candidate awaiting its audit verdict is not residue — and so
        do files referenced by any branch snapshot."""
        self._require_main("remove_orphans")
        referenced: set[str] = (self._staged_file_paths()
                                | self._branch_file_paths())
        referenced.update(e["path"] for snap in self._snapshots()
                          for e in self.files(snap))
        cutoff = time.time() - older_than_s
        removed = 0
        for dirpath, _dirs, files in os.walk(self.data_dir, topdown=False):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue  # never touch unknown files here
                path = os.path.join(dirpath, fn)
                if path in referenced:
                    continue
                try:
                    if os.path.getmtime(path) > cutoff:
                        continue
                    os.remove(path)
                except OSError:
                    continue
                removed += 1
            # a directory the sweep emptied down to its _SUCCESS
            # marker is pure crash residue — drop marker + dir
            # (committed dirs keep referenced parquet, so their
            # markers survive); walk is bottom-up, so bucket subdirs
            # are pruned before their output root is examined
            if dirpath == self.data_dir:
                continue
            try:
                left = os.listdir(dirpath)
                if left == ["_SUCCESS"]:
                    marker = os.path.join(dirpath, "_SUCCESS")
                    if os.path.getmtime(marker) <= cutoff:
                        os.remove(marker)
                        left = []
                if not left:
                    os.rmdir(dirpath)
            except OSError:
                pass
        return {"removed_files": removed,
                "referenced_files": len(referenced)}

    # ----------------------------------------------------------- merge

    # At or above this many written files, footer stats are collected
    # by ONE distributed Spark job instead of serial driver-side reads.
    # Measured (BENCH/stats_collect_r5.json, local[32] NVMe): the
    # distributed job is FLAT in file count (~0.9-1.1 s from 256 to
    # 4096 files — fixed job-launch cost) while serial grows linearly
    # at ~0.19 ms/file, so the local crossover is ~10^4 files. The
    # default keeps micro-batch merges and mid-size compactions on the
    # cheap serial path; deployments on object storage should lower it
    # (~100) on the class or on one table's instance — per-footer GET
    # latency there is ~100x local, which is where a full-table
    # rebucket at 10^5 files would otherwise stall the driver for
    # minutes (VERDICT r4 #1).
    STATS_DISTRIBUTED_MIN_FILES = 8192

    def _footer_stats_distributed(
        self, paths: list[str], stat_cols: set[str]
    ) -> dict[str, tuple[int, dict]]:
        """Per-file (row count, min/max stats) via one narrow
        distributed job: executors read parquet FOOTERS only (pyarrow
        metadata, zero data bytes) — the same read and the same
        ``_stat_encode`` semantics as the serial path, so manifests
        are identical whichever path ran (pinned in
        tests/test_lake_metadata.py). Arrow-batched ``mapInPandas``
        over the path list; the collect returns O(files) small rows —
        bounded driver metadata, same class as the bloom build."""
        sc_cols = sorted(stat_cols)

        def read_footers(batches):
            import pandas as pd

            wanted = set(sc_cols)
            for pdf in batches:
                rows = []
                for p in pdf["path"]:
                    n_rows, stats = _parquet_footer(p, wanted)
                    rows.append((p, n_rows, json.dumps(stats)))
                yield pd.DataFrame(
                    rows, columns=["path", "n_rows", "stats"])

        n_parts = min(
            len(paths), self.spark.sparkContext.defaultParallelism)
        df = (
            self.spark.createDataFrame([(p,) for p in paths],
                                       "path string")
            .repartition(n_parts)
            .mapInPandas(read_footers,
                         "path string, n_rows long, stats string")
        )
        return {r["path"]: (r["n_rows"], json.loads(r["stats"]))
                for r in df.collect()}

    def _write_files(self, snap: dict, df: DataFrame, name: str,
                     delta: bool = False,
                     rows_per_file: int | None = None
                     ) -> tuple[dict[str, list[dict]], int]:
        """Write ``df`` — the data fields by name plus ``_lsn``,
        ``_deleted`` and ``_bucket`` — as a new file set under
        ``<data>/<name>-<uuid>`` in the physical (field-id) schema;
        returns its manifest entries by bucket (key blooms attached)
        and its row count. A base rewrite (COW merge, compaction,
        rebucket) is ``partitionBy(_bucket)`` over ``_bucket_winners``'
        exchange: one file per bucket, split every ``rows_per_file``
        rows when given. Without that clustering a dynamic-partition write fans
        each task across every bucket dir, measured 1.5-2x slower
        end-to-end. A ``delta`` layer keeps ``_bucket`` as a column
        and is written straight off the winner aggregation's key
        exchange: AQE coalesces a micro-batch's exchange to one
        partition, so a small commit writes one file; a large batch
        keeps its write parallelism and writes a few files, each
        holding many buckets."""
        fields = self.fields(snap)
        out_dir = os.path.join(self.data_dir, f"{name}-{uuid.uuid4().hex}")
        w = df.select(
            *[F.col(f["name"]).alias(f"f_{f['id']}") for f in fields],
            F.col(SYS_LSN),
            F.col(SYS_DELETED),
            F.col(SYS_BUCKET),
        ).write.mode("overwrite")
        if rows_per_file is not None:
            w = w.option("maxRecordsPerFile", int(rows_per_file))
        (w if delta else w.partitionBy(SYS_BUCKET)).parquet(out_dir)
        new_files, rows = self._collect_written_files(
            out_dir, {f"f_{f['id']}": f["type"] for f in fields})
        self._attach_key_blooms(snap, new_files)
        by_bucket: dict[str, list[dict]] = {}
        for fmeta in new_files:
            if delta:
                fmeta["delta"] = True
            by_bucket.setdefault(str(fmeta["bucket"]), []).append(fmeta)
        return by_bucket, rows

    def _collect_written_files(
        self, out_dir: str, phys: dict
    ) -> tuple[list[dict], int]:
        """Enumerate a write's parquet output -> (file entries, total
        rows), in either layout: bucket-partitioned (``_bucket=<b>/``
        directories, one bucket per file) or delta-layer files at the
        top of ``out_dir`` holding ``_bucket`` as a column, each of
        which gets one entry per bucket it holds and its
        ``bucket_rows``.
        Row counts AND per-file min/max column stats come from parquet
        footers (metadata only), the Iceberg manifest-stats analog that
        ``read(between=...)`` skips files with; a delta layer's
        per-bucket counts come from reading its ``_bucket`` column.
        Small outputs (micro-batch merges) read footers driver-side;
        large outputs (full-table compact/rebucket) fan the footer
        reads out as one distributed job — see
        ``STATS_DISTRIBUTED_MIN_FILES``."""
        stat_cols = {
            n for n, t in phys.items() if t in _STAT_TYPES
        } | {SYS_LSN}
        located: list[tuple[str, int | None]] = []
        for name in sorted(os.listdir(out_dir)):
            if name.endswith(".parquet"):
                located.append((os.path.join(out_dir, name), None))
            if not name.startswith(f"{SYS_BUCKET}="):
                continue
            bucket = int(name.split("=")[1])
            for fn in sorted(os.listdir(os.path.join(out_dir, name))):
                if fn.endswith(".parquet"):
                    located.append(
                        (os.path.join(out_dir, name, fn), bucket))
        if len(located) >= self.STATS_DISTRIBUTED_MIN_FILES:
            footers = self._footer_stats_distributed(
                [p for p, _b in located], stat_cols)
        else:
            footers = {p: _parquet_footer(p, stat_cols)
                       for p, _b in located}
        new_files: list[dict] = []
        total_rows = 0
        for path, bucket in located:
            n_rows, stats = footers[path]
            total_rows += n_rows
            if bucket is not None:
                new_files.append({"path": path, "bucket": bucket,
                                  "phys": phys, "stats": stats})
                continue
            held = _bucket_rows(path) if n_rows else {}
            new_files += [{"path": path, "bucket": int(b), "phys": phys,
                           "stats": stats, "bucket_rows": held}
                          for b in held]
        return new_files, total_rows

    _BLOOM_K = 4  # probes per key; fpp ~ (1 - e^(-K*n/m))^K

    @staticmethod
    def _bloom_probe_expr(key_col, j: int, m_bits: int) -> F.Column:
        """Probe j's bit position for a key: an independent hash per
        probe via xxhash64 over the (key, probe-index) tuple — no
        h1+j*h2 arithmetic, which would overflow long under ANSI mode.
        MUST stay identical between write (_attach_key_blooms) and
        lookup; both sides evaluate it in Spark so the hash is the
        same implementation bit-for-bit."""
        return F.pmod(F.xxhash64(key_col, F.lit(j)), F.lit(m_bits))

    def _attach_key_blooms(self, snap: dict,
                           new_files: list[dict]) -> None:
        """Record a bloom filter over the key column in each manifest
        entry (Parquet/Iceberg bloom-filter analog, held at the
        manifest so skipping needs no file I/O at all): one per file,
        and one per (file, bucket) for a delta layer holding several
        buckets, so a lookup skips a layer that lacks its key in its
        bucket. ONE narrow distributed job over the just-written files'
        key column — O(batch) work reading a single column, never a
        driver-side data read. Files whose bloom cannot be computed
        simply get no entry (absent bloom == never skipped)."""
        m_bits = snap.get("key_bloom_bits")
        if not m_bits or not new_files:
            return
        key = self.key_field(snap)
        fid = next(f["id"] for f in self.fields(snap) if f["name"] == key)
        phys_key = f"f_{fid}"
        key_type = new_files[0]["phys"].get(phys_key)
        if key_type is None:
            return
        n_words = m_bits // 64
        # the files of one write share one layout
        shared = "bucket_rows" in new_files[0]
        schema = T.StructType(
            [T.StructField(phys_key, _spark_type(key_type))]
            + ([T.StructField(SYS_BUCKET, T.IntegerType())]
               if shared else []))
        df = (
            self.spark.read.schema(schema)
            .parquet(*dict.fromkeys(e["path"] for e in new_files))
            .select(F.input_file_name().alias("_f"),
                    (F.col(SYS_BUCKET) if shared else F.lit(None)
                     .cast("int")).alias("_b"),
                    F.col(phys_key).alias("_k"))
        )
        for j in range(self._BLOOM_K):
            df = df.withColumn(
                f"_p{j}", self._bloom_probe_expr(F.col("_k"), j, m_bits))
        # per row and word w: OR of SHIFTLEFT(1, p%64) for probes
        # landing in w; bit_or-aggregated per file
        aggs = []
        for w in range(n_words):
            terms = " | ".join(
                f"(CASE WHEN (_p{j} DIV 64) = {w} THEN "
                f"SHIFTLEFT(1L, CAST(_p{j} % 64 AS INT)) ELSE 0L END)"
                for j in range(self._BLOOM_K))
            aggs.append(F.bit_or(F.expr(terms)).alias(f"w{w}"))
        from urllib.parse import unquote, urlparse

        # realpath on BOTH sides: input_file_name() returns a URI whose
        # unquoted path may differ from the manifest's path through a
        # symlinked table root or mount alias — an unmatched join here
        # would silently disable the feature (no bloom == never skip)
        blooms = {
            (os.path.realpath(unquote(urlparse(r["_f"]).path)), r["_b"]):
                [r[f"w{w}"] for w in range(n_words)]
            for r in df.groupBy("_f", "_b").agg(*aggs).collect()
        }
        matched = 0
        for e in new_files:
            words = blooms.get((os.path.realpath(e["path"]),
                                e["bucket"] if shared else None))
            if words is not None:
                e["key_bloom"] = words
                matched += 1
        if blooms and not matched:
            import warnings

            warnings.warn(
                f"key-bloom build matched none of {len(new_files)} new "
                f"files (path normalization mismatch?) — lookups will "
                f"not skip these files", RuntimeWarning, stacklevel=2)

    def bucket_expr(self, key_col) -> F.Column:
        n = self.snapshot()["n_buckets"]
        return F.pmod(F.xxhash64(key_col), F.lit(n)).cast("int")

    @staticmethod
    def _key_bucket(snap: dict, key_type: str, key_value) -> int | None:
        """The bucket ``bucket_expr`` gives ``key_value``, computed on
        the driver for a str value of a string key; None otherwise
        (the caller asks Spark, which also applies the key's cast)."""
        if key_type != "string" or type(key_value) is not str:
            return None
        try:
            data = key_value.encode("utf-8")
        except UnicodeEncodeError:
            return None
        return _xxhash64(data) % snap["n_buckets"]

    def merge(
        self,
        source: DataFrame,
        lsn_col: str = "lsn",
        op_col: str = "op",
        batch_id: str | None = None,
        lineage: dict | None = None,
        touched_hint: set[int] | None = None,
        mode: str = "cow",
        fill: Callable[[DataFrame], DataFrame] | None = None,
        wap_id: str | None = None,
        add_correction_fence: int | None = None,
    ) -> dict:
        """LSN-guarded keyed MERGE (I/U upsert, D tombstone) into the
        touched buckets. ``source`` must carry the table's data columns
        plus ``lsn_col``/``op_col``, and may carry duplicate deliveries
        and out-of-order lsns in either mode: the merge owns the
        per-key max-(lsn, deleted) winner decision (_winner_per_key —
        the same rule reads reconcile with).

        ``fill``: optional column transform applied to the winner rows
        just before the write — the seam cdc/apply.py uses to run the
        Arrow text extraction once per winning NEW row, in the tasks
        after the commit's one exchange (already-extracted target rows
        pass through its masked kernel untouched).

        ``mode``:
        - ``"cow"`` (copy-on-write): the touched buckets' files —
          base and delta layers, unreconciled — ∪ source go through
          ONE exchange, hash-partitioned on ``_bucket``; the max_by
          winner aggregation grouped by (``_bucket``, key) runs on top
          of it (partial aggregation after the exchange), then
          ``fill``, then the ``partitionBy(_bucket)`` write: the
          touched buckets are rewritten as fresh base files, one per
          bucket (``_bucket_winners``). Reads stay
          reconciliation-free; each commit rewrites whole buckets.
        - ``"delta"`` (merge-on-read): the source's per-key winners are
          appended as a delta layer WITHOUT reading or rewriting
          the base — O(batch) write cost instead of O(touched bucket
          size). The layer keeps ``_bucket`` as a column instead of
          one file per touched bucket: each file is listed under every
          bucket it holds with a row count per bucket, and readers
          filter it on ``_bucket``. So the winner aggregation's key
          exchange is the commit's only shuffle (its partial
          aggregation runs map-side, before it), and ``fill`` and the
          write run in that exchange's AQE-coalesced tasks: a
          micro-batch writes one data file, a large batch a few, each
          shared by many buckets. Reads reconcile layers with the same
          winner rule; ``compact()`` folds layers back into one base
          file per bucket. This is the write-amplification fix at design
          scale: a 1k-row micro-batch must not rewrite a 10^8-row
          bucket (Iceberg MOR / position-delete analog, expressed as
          LSN-versioned row layers).

        ``touched_hint``: the exact set of buckets the source touches,
        when the caller can compute it more cheaply than running the
        source pipeline (cdc/apply.py derives it from a column-pruned
        url-only scan of the raw batch — dedup preserves the url set,
        so the hint is exact). With the hint, the expensive source
        pipeline (dedup shuffle + Arrow extraction) feeds exactly ONE
        action — the merge write — and row counts come from the written
        parquet footers driver-side; no persist, no extra job barriers
        (each extra action is a fixed cost that does not shrink with
        cores).

        ``wap_id``: write-audit-publish (Iceberg WAP analog). The merge
        runs in full — dedup, winner plan, bucket write — but the
        resulting snapshot is STAGED under this id instead of becoming
        current: readers of the table see nothing, auditors read the
        candidate state with ``read_staged(wap_id)``, and
        ``publish_staged(wap_id)`` makes it the next commit (metadata
        only — no data moves at publish). Crash between stage and
        publish loses nothing: the staged record protects its files
        from GC until published or ``abort_staged``-ed.

        Returns commit stats. Re-submitting an applied ``batch_id`` is a
        no-op (exactly-once under foreachBatch retry).

        Concurrency: a DELTA merge that loses the snapshot-commit race
        to a sanctioned maintenance commit (compaction, expiry, GC,
        evolution) rebases — its layer is appended on top of the
        winner, which is exactly "apply the batch to the winner's
        state" under max-LSN reconciliation. A rival MERGE writer or a
        concurrent rebucket is a hard CommitConflict, and COW merges
        never rebase (their winner decision may be stale)."""
        if mode not in ("cow", "delta"):
            raise ValueError(f"unknown merge mode {mode!r}")
        if wap_id is not None:
            self._staged_path(wap_id)  # validate id + fail fast on dup
            if os.path.exists(self._staged_path(wap_id)):
                raise ValueError(
                    f"wap_id {wap_id!r} already has a staged commit — "
                    f"publish or abort it first")
        if mode == "delta" and batch_id is not None and not self._BATCH_ID_RE.match(batch_id):
            # Non-numeric ids are deduped only via the bounded recent
            # set, degrading to at-least-once after _RECENT_CAP
            # commits. COW tolerates that (a redelivered batch is a
            # semantic no-op under the max-LSN winner rule), but delta
            # mode appends the redelivered rows as duplicate layers —
            # wasted bytes and double-counted lineage — so it requires
            # ids the durable per-prefix high-water mark can track.
            raise ValueError(
                f"delta mode requires a numeric-suffixed batch_id for "
                f"durable exactly-once tracking, got {batch_id!r}"
            )
        snap = self.snapshot()
        if batch_id is not None and self.is_applied(batch_id, snap):
            return {"skipped": True, "version": snap["version"]}

        fields = self.fields(snap)
        key = self.key_field(snap)
        names = [f["name"] for f in fields]

        src = source.select(
            *[F.col(n).cast(_spark_type(f["type"])).alias(n)
              for n, f in zip(names, fields)],
            F.col(lsn_col).cast("long").alias(SYS_LSN),
            (F.col(op_col) == "D").alias(SYS_DELETED),
        ).withColumn(SYS_BUCKET, self.bucket_expr(F.col(key)))

        persisted = False
        if touched_hint is not None:
            touched = set(touched_hint)
        else:
            # fallback: derive buckets from the source itself — needs a
            # second action over the pipeline, so persist it
            src = src.persist()
            persisted = True
            touched = {
                r[0] for r in src.select(SYS_BUCKET).distinct().collect()
            }

        fences = {int(p[0]): int(p[1])
                  for p in snap.get("correction_fences", [])}
        if fences:
            self._guard_correction_fences(snap, src, fences)

        if mode == "cow":
            # rewrite the touched buckets: the target's files are read
            # unreconciled, and ONE aggregation after the bucket
            # exchange decides the winners over base ∪ layers ∪ batch
            target = self._read_entries(fields, self.files(snap, touched))
            merged = self._bucket_winners(
                target.withColumn(SYS_BUCKET, self.bucket_expr(F.col(key)))
                .unionByName(src), key, reconcile=True)
        else:
            # the key exchange of the winner aggregation is the commit's
            # only shuffle; its partial aggregation runs map-side
            merged = self._winner_per_key(src, key)
        if fill is not None:
            merged = fill(merged)
        by_bucket, merged_rows = self._write_files(
            snap, merged, "commit", delta=mode == "delta")

        if persisted:
            src.unpersist()

        version = snap["version"] + 1
        # immutable per-commit manifest holding ONLY the rewritten
        # buckets' file entries; untouched buckets keep their parent
        # manifest pointers — O(touched) new metadata per commit
        if wap_id is None:
            manifest_path = self._write_manifest(version, by_bucket)
        else:
            # staged manifest lives outside the manifest chain — the
            # version number is provisional until publish, and
            # manifests are path-referenced everywhere, so the staged
            # path is first-class once the snapshot commits
            manifest_path = self._staged_manifest_path(wap_id)
            os.makedirs(self.staged_dir, exist_ok=True)
            tmp = manifest_path + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(_manifest_doc(version, by_bucket), f, indent=1)
            os.replace(tmp, manifest_path)

        def layered(base: dict) -> dict:
            manifests = {b: list(v) for b, v in base["manifests"].items()}
            if mode == "cow":
                # rewritten buckets: this manifest becomes the only layer
                for b in touched:
                    manifests.pop(str(b), None)
                for b in by_bucket:
                    manifests[b] = [manifest_path]
            else:
                # delta: append a layer per touched bucket, keep the base
                for b in by_bucket:
                    manifests.setdefault(b, []).append(manifest_path)
            return {"manifests": manifests}

        lin_entry = {
            "type": "merge",
            "batch_id": batch_id,
            "merged_rows": merged_rows,
            "touched_buckets": sorted(touched),
            # the commit's OWN manifest — the change feed reads a
            # merge's exact file set from here (unique path; for WAP
            # stagings publish_staged re-points this at the adopted
            # chain copy)
            "commit_manifest": manifest_path,
            **(lineage or {}),
        }
        if wap_id is not None:
            self._write_staged(wap_id, {
                "wap_id": wap_id,
                "base_version": snap["version"],
                "batch_id": batch_id,
                "snap": self._next_snapshot(snap, layered(snap), batch_id,
                                            add_correction_fence),
                "lineage": lin_entry,
                "staged_at": time.time(),
            })
            return {
                "staged": True,
                "wap_id": wap_id,
                "base_version": snap["version"],
                "merged_rows": merged_rows,
                "touched_buckets": len(touched),
            }
        # A DELTA merge that loses the race to a sanctioned maintenance
        # rival rebases (the other direction of compact()'s rebase —
        # together they make ingest + out-of-band maintenance race-free
        # in both orders): a delta layer is just "these events,
        # reconcile by max-LSN at read", so appending the already-
        # written manifest on top of a compaction / expiry / GC /
        # evolution / rollback winner is exactly "apply the batch to
        # the winner's state". A rival MERGE stays a hard conflict (two
        # ingest writers violate the single-writer-per-checkpoint
        # contract). COW merges never rebase: their winner decision was
        # computed against the base state and may be stale.
        snap2 = self._commit(
            snap, lin_entry, layered, batch_id, add_correction_fence,
            rebase=((lambda: self._rebase_delta_merge_base(snap))
                    if mode == "delta" else None))
        if snap2 is None:  # the winner already applied this batch
            return {"skipped": True, "version": self.current_version()}
        return {
            "skipped": False,
            "version": snap2["version"],
            "merged_rows": merged_rows,
            "touched_buckets": len(touched),
            "rebases": snap2["lineage"].get("rebases", 0),
        }

    def _rebase_delta_merge_base(self, snap0: dict) -> dict:
        """Validate that a delta merge staged against ``snap0`` can
        re-commit on top of the CURRENT snapshot after losing a commit
        race, and return that snapshot. Sound iff every winning commit
        since ``snap0`` was a sanctioned maintenance rival (compaction,
        snapshot expiry, orphan GC, schema evolution, rebucket-free
        rollback...) — anything that only changed layout/metadata, not
        which events the table has logically absorbed. A rival MERGE
        raises: two ingest writers on one table is a deployment error,
        not a race to absorb. A bucket-layout change raises: the
        staged layer's rows were bucketed with the old count and would
        misroute."""
        cur = self.snapshot()
        if cur["n_buckets"] != snap0["n_buckets"]:
            raise CommitConflict(
                "a concurrent rebucket changed the partition layout "
                "under this merge — re-bucket the batch and retry")
        for v in range(snap0["version"] + 1, cur["version"] + 1):
            lin = self.snapshot(v).get("lineage")
            if lin is not None and lin.get("type") in (
                    "merge", "fast_forward"):
                # a fast_forward is an ingest-class rival too: it
                # absorbed events (possibly via COW rewrites inside
                # the branch), so the staged layer's winner decision
                # may be stale — hard conflict, same doctrine
                raise CommitConflict(
                    f"version {v} was committed by a concurrent MERGE "
                    f"writer — one ingest writer per table; stop the "
                    f"duplicate job")
        return cur

    # ------------------------------------------------- row-level ops

    def _max_applied_lsn(self, snap: dict | None = None) -> int:
        """Highest ``_lsn`` stored anywhere in the snapshot (-1 for an
        empty table) — the fence base for lake-side corrections
        (``update_where``). Metadata-only on the normal path: every
        manifest entry records ``_lsn`` min/max footer stats
        (``_collect_written_files`` always includes ``SYS_LSN`` in
        ``stat_cols``); an entry whose footer poisoned the stat is
        max'd in via one lsn-column-only scan of just those files —
        never a payload read."""
        snap = snap if snap is not None else self.snapshot()
        hi = -1
        missing: list[dict] = []
        for e in self.files(snap):
            st = (e.get("stats") or {}).get(SYS_LSN)
            if st is None:
                missing.append(e)
            else:
                hi = max(hi, int(st[1]))
        if missing:
            key_fld = [f for f in self.fields(snap)
                       if f["name"] == self.key_field(snap)]
            row = (self._read_entries(key_fld, missing)
                   .agg(F.max(SYS_LSN)).collect()[0])
            if row[0] is not None:
                hi = max(hi, int(row[0]))
        return hi

    def _row_op_base(self, snap: dict, predicate, columns=None,
                     between=None) -> DataFrame:
        """Live winners matching ``predicate``, optionally projected
        to ``columns`` AT THE SCAN and bounded by the same manifest
        stats ``read(between=...)`` uses — on a time-clustered table
        a time-bounded correction touches O(window) files, not
        O(table). The winner decision depends only on (lsn, deleted),
        so any projection yields the same row set."""
        pred = (F.expr(predicate) if isinstance(predicate, str)
                else predicate)
        if between is None:
            base = self._read_reconciled(snap, None, columns)
        else:
            col, lo, hi = between
            if lo is None and hi is None:
                raise ValueError("between needs at least one bound")
            cols = (None if columns is None
                    else list(dict.fromkeys([*columns, col])))
            base = self._read_skipping(snap, cols, col, lo, hi)
            if lo is not None:
                base = base.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                base = base.filter(F.col(col) <= F.lit(hi))
        return base.filter(~F.col(SYS_DELETED)).filter(pred)

    def _pred_columns(self, fields: list[dict], key: str,
                      predicate) -> list[str]:
        """Key + the columns the predicate textually references — the
        narrow projection the probe action reads (an over-match only
        widens the read, never changes it). Case-insensitive, as Spark
        resolves column names."""
        pred_s = (predicate if isinstance(predicate, str)
                  else str(predicate))
        return [f["name"] for f in fields
                if f["name"] == key
                or re.search(rf"\b{re.escape(f['name'])}\b", pred_s,
                             re.IGNORECASE)]

    def _row_op_hits(self, snap: dict, predicate, columns=None,
                     between=None):
        """Live winners matching ``predicate`` plus their exact
        touched-bucket set and count (ONE narrow probe action — the
        same touched-hint seam cdc/apply.py uses, so the full source
        pipeline feeds exactly the merge write)."""
        key = self.key_field(snap)
        hits = self._row_op_base(snap, predicate, columns, between)
        probe = hits.select(
            self.bucket_expr(F.col(key)).alias("_b")
        ).agg(
            F.collect_set("_b").alias("_bs"),
            F.count(F.lit(1)).alias("_n"),
        ).collect()[0]
        return hits, set(probe["_bs"]), int(probe["_n"])

    def delete_where(
        self,
        predicate,
        mode: str = "delta",
        batch_id: str | None = None,
        wap_id: str | None = None,
        between: tuple | None = None,
    ) -> dict:
        """Predicate row-level delete (Iceberg ``DELETE FROM t WHERE
        p`` — the GDPR/right-to-erasure shape: 'delete every row for
        host X'). ``predicate`` is a SQL string or a Column over the
        data columns.

        Implementation: ONE event-channel merge — the matching live
        winners become tombstones stamped at each row's OWN current
        LSN. That is sound on both rules the engine reconciles with:
        the max-``(lsn, deleted)`` winner orders ``deleted=true``
        above ``false`` at equal LSN, so the tombstone wins now, and
        the change feed's strictly-greater diff sees ``(lsn, true) >
        (lsn, false)``, so downstream consumers (mirrors, IVM,
        envelope topics) receive ordinary delete events. Precedence
        vs the upstream source is exactly CDC-correct with no fence:
        any later source event carries a strictly higher LSN and wins
        (the delete is a lake-side correction, not a fork of history),
        while redelivered/stale events at or below the row's LSN stay
        dead under the same tie rule.

        Tombstones carry NO payload (non-key columns null) — the
        delete never re-persists the deleted values into its own
        commit files. Physical erasure follows the normal lake
        lifecycle: ``mode="cow"`` rewrites the touched buckets
        immediately (the old files become unreferenced);
        ``mode="delta"`` is O(matched) and defers the rewrite to
        ``compact()``. Either way the superseded bytes are reclaimed
        by ``expire_snapshots()`` + ``remove_orphans()`` — the same
        recipe Iceberg documents for erasure compliance.

        The scan is pruned to the key + the predicate's columns
        (textual match against field names — an over-match only
        widens the read); the merge gets the exact touched-bucket
        hint, so the whole op is one narrow probe + one merge write.
        ``between=(col, lo, hi)`` ADDITIONALLY bounds the scan by
        manifest stats (the ``read(between=...)`` machinery): on a
        table compacted sorted/Z-ordered on a time column, the usual
        'erase host X's pages from window W' correction plans
        O(window) files instead of scanning the table — the predicate
        still applies exactly on top, so the bound is an optimization,
        never a semantics change.
        Composes with the rest of the table: ``batch_id`` gives
        exactly-once under retry, ``wap_id`` stages the delete for
        write-audit-publish, branches take it unchanged."""
        snap = self.snapshot()
        if batch_id is not None and self.is_applied(batch_id, snap):
            return {"skipped": True, "version": snap["version"],
                    "deleted_rows": 0}
        key = self.key_field(snap)
        fields = self.fields(snap)
        pred_s = (predicate if isinstance(predicate, str)
                  else str(predicate))
        cols = self._pred_columns(fields, key, predicate)
        hits, touched, n = self._row_op_hits(snap, predicate, cols,
                                             between)
        if n == 0:
            return {"skipped": True, "version": snap["version"],
                    "deleted_rows": 0}
        src = hits.select(
            F.col(key),
            *[F.lit(None).cast(_spark_type(f["type"])).alias(f["name"])
              for f in fields if f["name"] != key],
            F.col(SYS_LSN).alias("lsn"),
            F.lit("D").alias("op"),
        )
        res = self.merge(
            src, batch_id=batch_id,
            lineage={"row_op": "delete_where", "predicate": pred_s,
                     "matched_rows": n},
            touched_hint=touched, mode=mode,
            wap_id=wap_id)
        return {**res, "deleted_rows": n}

    def update_where(
        self,
        predicate,
        assignments: dict,
        mode: str = "delta",
        batch_id: str | None = None,
        wap_id: str | None = None,
        at_lsn: int | None = None,
        between: tuple | None = None,
    ) -> dict:
        """Predicate row-level update (Iceberg ``UPDATE t SET ...
        WHERE p``): rewrite the matching live winners with
        ``assignments`` (column -> SQL string or Column, evaluated
        over the old row — ``{"lang": "'en'"}``, ``{"text":
        F.upper("text")}``).

        Unlike ``delete_where`` an update cannot ride the row's own
        LSN — two non-deleted payloads at one ``(key, lsn)`` is
        exactly the ambiguity the engine's ordering forbids — so the
        corrected rows are stamped at a **fence LSN** = (highest LSN
        stored anywhere in the table) + 1, computed from manifest
        stats (metadata-only, see ``_max_applied_lsn``). Semantics:
        the correction beats everything the lake has seen, and any
        later upstream event with a strictly higher LSN beats the
        correction — the source stays the eventual source of truth,
        which is the standard CDC-sink correction contract.

        The one LSN the upstream log could still mint that would tie
        with the correction is the fence value itself. The commit
        therefore records ``[fence_lsn, version]`` in the snapshot's
        ``correction_fences``, and the apply path
        (``cdc/apply.py``) checks each incoming batch against the
        fences — an event AT a fence LSN for a key that correction
        touched raises ``CorrectionFenceCollision`` before the merge
        runs (events at that LSN for other keys pass: the guard
        semi-joins the correction commit's own rows). In practice
        corrections run quiesced — between micro-batches or from the
        ``--maintain`` job — and real WAL positions advance by record
        bytes, so the guard is a tripwire, not a cost: zero overhead
        until a fence exists.

        ``at_lsn`` overrides the fence (must exceed every stored
        LSN) for operators who reserve correction LSN ranges.
        The key column cannot be assigned (delete + upstream
        re-insert is the rename-a-key path). Feed/mirror/IVM
        consumers see ordinary ``update_preimage``/``postimage``
        events; ``mode``/``batch_id``/``wap_id`` as in
        ``delete_where``."""
        snap = self.snapshot()
        if batch_id is not None and self.is_applied(batch_id, snap):
            return {"skipped": True, "version": snap["version"],
                    "updated_rows": 0}
        key = self.key_field(snap)
        fields = self.fields(snap)
        names = {f["name"] for f in fields}
        if not assignments:
            raise ValueError("update_where needs at least one "
                             "assignment")
        if key in assignments:
            raise ValueError(
                f"cannot assign the key column {key!r} — delete the "
                f"row and re-insert under the new key upstream")
        unknown = set(assignments) - names
        if unknown:
            raise ValueError(f"unknown columns: {sorted(unknown)}")
        maxl = self._max_applied_lsn(snap)
        fence = int(at_lsn) if at_lsn is not None else maxl + 1
        if fence <= maxl:
            raise ValueError(
                f"at_lsn={fence} does not exceed the highest stored "
                f"LSN {maxl} — the correction would not win "
                f"reconciliation")
        pred_s = (predicate if isinstance(predicate, str)
                  else str(predicate))
        sets = {c: (F.expr(v) if isinstance(v, str) else v)
                for c, v in assignments.items()}
        # probe narrow (key + predicate columns only — the payload
        # must not cross the scan twice); the merge source reads full
        # width separately, feeding exactly the one write action
        _hits, touched, n = self._row_op_hits(
            snap, predicate, self._pred_columns(fields, key, predicate),
            between)
        if n == 0:
            return {"skipped": True, "version": snap["version"],
                    "updated_rows": 0}
        hits = self._row_op_base(snap, predicate, None, between)
        src = hits.select(
            *[(sets[f["name"]].cast(_spark_type(f["type"]))
               .alias(f["name"])
               if f["name"] in sets else F.col(f["name"]))
              for f in fields],
            F.lit(fence).cast("long").alias("lsn"),
            F.lit("U").alias("op"),
        )
        res = self.merge(
            src, batch_id=batch_id,
            lineage={"row_op": "update_where", "predicate": pred_s,
                     "assignments": {c: str(v) for c, v
                                     in assignments.items()},
                     "fence_lsn": fence, "matched_rows": n},
            touched_hint=touched, mode=mode,
            wap_id=wap_id, add_correction_fence=fence)
        return {**res, "updated_rows": n, "fence_lsn": fence}

    def _guard_correction_fences(self, snap: dict, src: DataFrame,
                                 fences: dict[int, int]) -> None:
        """Refuse the one genuinely ambiguous event: a NON-delete
        source row at a correction fence LSN for a key that correction
        rewrote (two different payloads at one (key, lsn) — see
        ``update_where``). Lives on the MERGE itself so every event
        channel is covered — the streaming apply, envelope-topic
        replicas, mirrors, bootstrap — not just one consumer. Delete
        events at a fence are exempt: the (lsn, deleted) ordering
        resolves them deterministically (tombstone outranks the
        correction at its own LSN — matching source intent), and
        ``delete_where`` itself tombstones corrected rows at their
        fence LSN through this same code path.

        Cost: one narrow probe action per merge, only on tables where
        a correction ever ran (no fences -> never called); the probe
        prunes to (key, lsn, deleted), so the source pipeline's
        payload work does not rerun."""
        key = self.key_field(snap)
        hit = (src.filter(
            F.col(SYS_LSN).isin([int(x) for x in fences])
            & ~F.col(SYS_DELETED))
            .groupBy(SYS_LSN).agg(F.count(F.lit(1)).alias("_n"))
            .collect())
        for r in hit:
            lsn = int(r[SYS_LSN])
            corrected = self._correction_keys(fences[lsn], lsn)
            if corrected is None:
                raise CorrectionFenceCollision(
                    f"batch carries events at correction-fence LSN "
                    f"{lsn} (commit v{fences[lsn]}), and that "
                    f"commit's files were expired — the corrected key "
                    f"set is unknowable; resolve manually (re-run the "
                    f"correction above this LSN or drop the event)")
            n = (src.filter((F.col(SYS_LSN) == lsn)
                            & ~F.col(SYS_DELETED))
                 .select(F.col(key))
                 .join(corrected, key, "left_semi")
                 .count())
            if n:
                raise CorrectionFenceCollision(
                    f"batch carries {n} event(s) at LSN {lsn} for "
                    f"key(s) a lake-side correction (commit "
                    f"v{fences[lsn]}) stamped at that same LSN — "
                    f"max-(lsn, deleted) reconciliation cannot order "
                    f"two payloads at one (key, lsn); re-run the "
                    f"correction on top of the new event "
                    f"(update_where again) or drop the event, then "
                    f"resume the stream")

    def _correction_keys(self, version: int,
                         fence_lsn: int) -> DataFrame | None:
        """Key column of the rows a correction commit stamped at its
        fence LSN — the exact set the fence-collision guard must
        check (a COW correction's manifest also carries carried-over
        bucket rows; filtering on ``_lsn == fence`` isolates the
        corrected ones in both modes). Returns None when the commit's
        files were expired — the guard then raises conservatively."""
        entries = self._commit_files(self._lineage_entry(version))
        if not entries:
            return None
        key = self.key_field()
        key_fld = [f for f in self.fields() if f["name"] == key]
        return (self._read_entries(key_fld, entries)
                .filter(F.col(SYS_LSN) == int(fence_lsn))
                .select(key))

    # --------------------------------------------- write-audit-publish

    @property
    def staged_dir(self) -> str:
        return os.path.join(self.meta_dir, "staged")

    def _staged_path(self, wap_id: str) -> str:
        if not self._REF_NAME_RE.match(wap_id):
            raise ValueError(
                f"invalid wap_id {wap_id!r} (want [A-Za-z0-9._-], "
                f"letter/digit first, <=64 chars)")
        return os.path.join(self.staged_dir, f"wap-{wap_id}.json")

    def _staged_manifest_path(self, wap_id: str) -> str:
        return os.path.join(
            self.staged_dir, f"manifest-wap-{wap_id}.json")

    def _write_staged(self, wap_id: str, rec: dict) -> None:
        os.makedirs(self.staged_dir, exist_ok=True)
        path = self._staged_path(wap_id)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(rec, f, indent=1)
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise ValueError(
                f"wap_id {wap_id!r} already has a staged commit — "
                f"publish or abort it first") from None
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    def _staged_rec(self, wap_id: str) -> dict:
        path = self._staged_path(wap_id)
        if not os.path.exists(path):
            raise ValueError(f"no staged commit for wap_id {wap_id!r}")
        with open(path) as f:
            return json.load(f)

    def staged(self) -> dict[str, dict]:
        """All staged (unpublished) WAP commits, wap_id -> summary."""
        if not os.path.isdir(self.staged_dir):
            return {}
        out: dict[str, dict] = {}
        for fn in sorted(os.listdir(self.staged_dir)):
            if fn.startswith("wap-") and fn.endswith(".json"):
                with open(os.path.join(self.staged_dir, fn)) as f:
                    rec = json.load(f)
                out[rec["wap_id"]] = {
                    "base_version": rec["base_version"],
                    "batch_id": rec["batch_id"],
                    "staged_at": rec["staged_at"],
                    "merged_rows": rec["lineage"]["merged_rows"],
                }
        return out

    def read_staged(
        self,
        wap_id: str,
        columns: list[str] | None = None,
        between: tuple | None = None,
    ) -> DataFrame:
        """The audit read: live rows of the CANDIDATE state the staged
        commit would produce if published — same semantics and options
        as ``read()``. Quality gates (row-count deltas, null-rate
        checks, dedup-rate bounds) run against this before deciding to
        ``publish_staged`` or ``abort_staged``."""
        return self._read_snap(
            self._staged_rec(wap_id)["snap"], columns, between)

    def publish_staged(self, wap_id: str) -> dict:
        """Promote a staged WAP commit to the table's next snapshot —
        metadata only, the audited files ARE the published files.
        Requires the table to still be at the staged commit's base
        version: the candidate's winner decision and manifest layering
        were computed against that exact state, so an intervening
        commit means the audit proved the wrong thing — fail with
        CommitConflict and re-stage on the new base (Iceberg
        cherry-pick has the same ancestry guard). Publishing a batch
        the table meanwhile applied through another path degrades to
        an abort (exactly-once holds across the WAP seam).

        The staged manifest is ADOPTED into the manifest chain
        (hard-linked to a unique ``manifest-<version>-<id>.json``)
        and every snapshot pointer rewritten to that path BEFORE the
        snapshot commits. Committed snapshots therefore never
        reference a ``staged/`` path — so a later re-use of the same
        ``wap_id`` (a recurring 'nightly-audit' id) re-stages into a
        filename nothing committed depends on, and ``abort_staged``
        can always delete staged metadata without breaking committed
        reads."""
        rec = self._staged_rec(wap_id)
        cur = self.current_version()
        if rec["batch_id"] is not None and self.is_applied(rec["batch_id"]):
            # applied through another path (or this publish's own
            # crashed earlier attempt) — the staged record is obsolete;
            # abort_staged's referenced-file guard keeps any file a
            # committed snapshot adopted
            self.abort_staged(wap_id, keep_files=False)
            return {"skipped": True, "version": cur}
        if cur != rec["base_version"]:
            raise CommitConflict(
                f"staged wap {wap_id!r} was audited against "
                f"v{rec['base_version']} but the table is at v{cur} — "
                f"abort and re-stage on the current state")
        staged = rec["snap"]
        staged_man = self._staged_manifest_path(wap_id)
        # adopt the staged manifest into the chain at a UNIQUE path
        # (hard link — the staged copy is removed after commit), so a
        # crashed or raced publish leaves only inert residue and can
        # never clobber a rival's manifest
        man_path = os.path.join(
            self.meta_dir,
            f"manifest-{cur + 1:08d}-{uuid.uuid4().hex[:12]}.json")
        os.link(staged_man, man_path)
        # the staged snapshot was built on this same base: its state
        # (ledger and fences included) is the commit's
        snap2 = self._commit(
            self.snapshot(cur),
            {**rec["lineage"], "wap_id": wap_id,
             "commit_manifest": man_path},
            dict(staged, manifests={
                b: [man_path if p == staged_man else p for p in lst]
                for b, lst in staged["manifests"].items()}))
        os.remove(self._staged_path(wap_id))
        try:
            os.remove(staged_man)  # the adopted hard link remains
        except OSError:
            pass
        return {
            "skipped": False,
            "version": snap2["version"],
            "merged_rows": rec["lineage"]["merged_rows"],
            "wap_id": wap_id,
        }

    def abort_staged(self, wap_id: str, keep_files: bool = False) -> dict:
        """Drop a staged commit. With ``keep_files=False`` (default)
        the staged merge's own data files are deleted immediately —
        except any file a committed snapshot references (a crashed
        publish may have adopted this staging's manifest before its
        cleanup ran; the reference check is one driver-side metadata
        scan and only runs when there are files to consider).
        ``keep_files=True`` leaves them as unreferenced residue for
        forensics; ``remove_orphans`` reclaims them on the normal
        maintenance cadence."""
        rec = self._staged_rec(wap_id)
        staged_man = self._staged_manifest_path(wap_id)
        removed = 0
        if not keep_files and os.path.exists(staged_man):
            with open(staged_man) as f:
                man = json.load(f)
            own = {e["path"] for e in _manifest_entries(man)}
            if own:
                referenced = {e["path"] for snap in self._snapshots()
                              for e in self.files(snap)}
                for p in own - referenced:
                    try:
                        os.remove(p)
                        removed += 1
                    except OSError:
                        pass
        os.remove(self._staged_path(wap_id))
        try:
            os.remove(staged_man)
        except OSError:
            pass
        return {"aborted": wap_id, "base_version": rec["base_version"],
                "removed_files": removed}

    def _staged_file_paths(self) -> set[str]:
        """Data files referenced only by staged (unpublished) WAP
        commits — protected from expire/GC until published/aborted."""
        out: set[str] = set()
        for wap_id in self.staged():
            for e in self.files(self._staged_rec(wap_id)["snap"]):
                out.add(e["path"])
        return out
