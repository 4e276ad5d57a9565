"""Streaming shell tests: foreachBatch apply with checkpoint, restart
convergence, metrics listener (SURVEY.md §7 stage 4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_trials_etl_spark.cdc.replay import create_pages_table
from clinical_trials_etl_spark.cdc.stream import run_stream
from clinical_trials_etl_spark.datagen.changelog import (
    LogSpec,
    write_changelog_segments,
)
from clinical_trials_etl_spark.datagen.reference_fold import fold_changelog
from clinical_trials_etl_spark.lake.table import LakeTable

SPEC = LogSpec(n_events=1200, n_hosts=8, paths_per_host=30, seed=7)


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wal_stream"))
    write_changelog_segments(spark, SPEC, d, n_segments=4)
    return d


def _expected(spark, log_dir):
    rows = [
        r.asDict()
        for r in spark.read.option("basePath", log_dir).parquet(log_dir).collect()
    ]
    return fold_changelog(rows)


def test_stream_apply_and_restart(spark, log_dir, tmp_path):
    table = create_pages_table(spark, str(tmp_path / "tbl"), n_buckets=8)
    ckpt = str(tmp_path / "ckpt")
    metrics = str(tmp_path / "metrics")

    progress = run_stream(
        spark, log_dir, table, ckpt, max_files_per_trigger=2,
        metrics_path=metrics,
    )
    assert len(progress) >= 2  # multiple micro-batches ran
    want = _expected(spark, log_dir)
    got_urls = {r["url"] for r in table.read().select("url").collect()}
    assert got_urls == set(want)

    v1 = table.current_version()
    # restart from checkpoint: nothing new -> no new commits
    run_stream(spark, log_dir, table, ckpt, max_files_per_trigger=2)
    assert table.current_version() == v1

    # metrics table landed with per-batch rows (listener events are
    # delivered async: the live progress list can gain a final event
    # after the parquet flush, so allow a one-event skew)
    m = spark.read.parquet(metrics)
    assert abs(m.count() - len(progress)) <= 1 and m.count() >= 2
    assert m.agg(F.sum("num_input_rows")).collect()[0][0] >= SPEC.n_events

    # lineage: every merge commit carries its epoch + touched buckets
    merges = [e for e in table.lineage() if e["type"] == "merge"]
    assert merges and all("epoch" in e and e["touched_buckets"] for e in merges)
    # ... and the source offset range (north rule: offset range ->
    # snapshot-id -> row counts), disjoint-union-covering the log
    assert all(
        e["lsn_range"][0] <= e["lsn_range"][1] for e in merges
    )
    lo = min(e["lsn_range"][0] for e in merges)
    hi = max(e["lsn_range"][1] for e in merges)
    assert lo == 0 and hi == SPEC.n_events - 1


def test_stream_full_state_equivalence(spark, log_dir, tmp_path):
    """Value-level equivalence of the streamed table vs the fold."""
    table = create_pages_table(spark, str(tmp_path / "tbl2"), n_buckets=8)
    run_stream(spark, log_dir, table, str(tmp_path / "ckpt2"))
    want = _expected(spark, log_dir)
    rows = table.read().collect()
    assert len(rows) == len(want)
    for r in rows:
        w = want[r["url"]]
        assert r["text"] == w["text"]
        assert r["language"] == w["language"]
        assert r["warc_ts"] == w["warc_ts"]


def test_stream_survives_mid_stream_rebucket_and_expiry(spark, tmp_path):
    """Partition evolution + snapshot expiry wired into the streaming
    shell (VERDICT r2 item 8): the stream rebuckets the table after an
    early epoch and expires old snapshots on a cadence; a kill between
    the two halves and a resume from the same checkpoint must converge
    to the exact fold state under the NEW bucket layout, without
    re-rewriting on resume."""
    log = str(tmp_path / "wal_rb")
    spec1 = LogSpec(n_events=600, n_hosts=8, paths_per_host=30, seed=11)
    write_changelog_segments(spark, spec1, log, n_segments=2)
    table = create_pages_table(spark, str(tmp_path / "tbl_rb"), n_buckets=4)
    ckpt = str(tmp_path / "ckpt_rb")
    kw = dict(max_files_per_trigger=4, maintenance=[
        (1, lambda t: t.rebucket(16)),
        (2, lambda t: t.expire_snapshots(keep_last=2))])

    run_stream(spark, log, table, ckpt, **kw)  # first half, then "kill"
    assert table.snapshot()["n_buckets"] == 16  # evolved mid-stream
    v_mid = table.current_version()

    # resume: two more segments arrive (later LSNs)
    spec2 = LogSpec(n_events=600, n_hosts=8, paths_per_host=30, seed=11,
                    lsn_offset=600)
    write_changelog_segments(spark, spec2, log + "_tail", n_segments=2)
    import shutil as _sh
    for seg in sorted(__import__("os").listdir(log + "_tail")):
        _sh.move(f"{log}_tail/{seg}", f"{log}/{seg}2")
    run_stream(spark, log, table, ckpt, **kw)
    assert table.snapshot()["n_buckets"] == 16
    # resume did not re-run the one-shot rebucket
    assert sum(
        1 for e in table.lineage() if e["type"] == "rebucket"
    ) == 1, table.lineage()
    assert table.current_version() > v_mid
    # expiry ran: files exclusive to snapshots outside the retained
    # window (the first merge commit's, pre-rebucket) are gone from
    # disk (v1 is the create commit — no files — so scan forward)
    import os as _os
    early_files: set[str] = set()
    for v in range(1, table.current_version()):
        early_files = {f["path"] for f in table.files(table.snapshot(v))}
        if early_files:
            break
    live_files = {f["path"] for f in table.files()}
    gone = early_files - live_files
    assert gone and not any(_os.path.exists(p) for p in gone)

    want = _expected(spark, log)
    rows = table.read().collect()
    assert {r["url"] for r in rows} == set(want)
    for r in rows:
        assert r["text"] == want[r["url"]]["text"]
    # pruning math holds post-evolution: every live file's bucket < 16
    assert all(f["bucket"] < 16 for f in table.files())


def test_stream_merge_on_read_with_compaction(spark, log_dir, tmp_path):
    """Delta-mode streaming + periodic compaction converges to the
    identical state as COW streaming, and the compaction boundary
    actually folded layers (some commits are compactions)."""
    table = create_pages_table(spark, str(tmp_path / "tbl_mor"), n_buckets=8)
    run_stream(
        spark, log_dir, table, str(tmp_path / "ckpt_mor"),
        max_files_per_trigger=1, merge_mode="delta",
        maintenance=[(2, LakeTable.compact)],
    )
    want = _expected(spark, log_dir)
    got = {r["url"]: r["text"] for r in table.read().collect()}
    assert set(got) == set(want)
    assert all(got[u] == want[u]["text"] for u in want)
    kinds = {e["type"] for e in table.lineage()}
    assert "compaction" in kinds
    # a kill/resume over the same checkpoint is a no-op
    v = table.current_version()
    run_stream(
        spark, log_dir, table, str(tmp_path / "ckpt_mor"),
        max_files_per_trigger=1, merge_mode="delta",
        maintenance=[(2, LakeTable.compact)],
    )
    assert table.current_version() == v


def test_stream_delta_mid_stream_kill_resumes_identically(
    spark, log_dir, tmp_path
):
    """Kill BETWEEN delta commits (VERDICT.md round-3 item 5): the
    injected crash fires after an epoch's delta layer (and possibly a
    compaction) is committed but before Structured Streaming
    checkpoints its offsets — the worst-case window. The resume
    re-delivers that epoch; the idempotent commit must no-op it, the
    deferred compactions must replay on the resumed cadence, and final
    state must be byte-identical to an uninterrupted delta stream AND
    the fold. A recording task after the compaction pins the
    maintenance schedule's contract: list order, applied epochs only,
    none for the skipped re-delivery, the crash after the tasks."""
    table = create_pages_table(spark, str(tmp_path / "tbl_dk"), n_buckets=8)
    ckpt = str(tmp_path / "ckpt_dk")
    seen: list[tuple[int, str]] = []  # (merges so far, newest commit)

    def record(t):
        kinds = [e["type"] for e in t.lineage()]
        seen.append((kinds.count("merge"), kinds[-1]))

    kw = dict(max_files_per_trigger=1, merge_mode="delta",
              maintenance=[(2, LakeTable.compact), (1, record)])

    with pytest.raises(Exception, match="injected crash"):
        run_stream(spark, log_dir, table, ckpt, fail_after_batches=3, **kw)
    kinds = [e["type"] for e in table.lineage()]
    assert kinds.count("merge") == 3  # 3 delta epochs landed pre-crash
    assert kinds.count("compaction") == 1  # boundary at 2 fired
    # one record per applied epoch, after that epoch's compaction, and
    # the crash after epoch 3's tasks
    assert seen == [(1, "merge"), (2, "compaction"), (3, "merge")]
    seen.clear()
    v_crash = table.current_version()

    # resume from the same checkpoint: the crashed epoch is re-delivered
    # (its offsets were never committed) and must be a metadata no-op;
    # the remaining files apply; compaction cadence continues
    run_stream(spark, log_dir, table, ckpt, **kw)
    kinds = [e["type"] for e in table.lineage()]
    # one merge per WAL file and not one more: the re-delivered epoch
    # was skipped by the idempotent commit, not applied twice
    import glob as _glob
    n_files = len(_glob.glob(f"{log_dir}/segment=*/*.parquet"))
    assert kinds.count("merge") == n_files, (kinds.count("merge"), n_files)
    assert kinds.count("compaction") >= 2  # cadence resumed post-crash
    assert table.current_version() > v_crash
    # the re-delivered epoch 3 ran no task; the resumed run counts its
    # own applied epochs, compacting on every second one
    assert [m for m, _ in seen] == list(range(4, n_files + 1))
    assert [k for _, k in seen] == [
        "compaction" if i % 2 == 0 else "merge"
        for i in range(1, len(seen) + 1)]

    want = _expected(spark, log_dir)
    got = {r["url"]: r for r in table.read().collect()}
    assert set(got) == set(want)
    for u, w in want.items():
        assert got[u]["text"] == w["text"]
        assert got[u]["language"] == w["language"]

    # byte-identity vs an uninterrupted delta stream over the same log
    clean = create_pages_table(spark, str(tmp_path / "tbl_dc"), n_buckets=8)
    run_stream(spark, log_dir, clean, str(tmp_path / "ckpt_dc"), **kw)
    a = sorted(
        tuple(r) for r in table.read_raw()
        .select("url", "text", "language", "_lsn", "_deleted").collect()
    )
    b = sorted(
        tuple(r) for r in clean.read_raw()
        .select("url", "text", "language", "_lsn", "_deleted").collect()
    )
    assert a == b


def test_stream_maintains_agg_view_on_cadence(spark, log_dir, tmp_path):
    """Materialized aggregate views ride the stream: every K applied
    epochs the per-language page-count view advances over the
    pre/post-image feed (cdc/ivm.py). The view is created on the v1
    schema (column 'lang') and must keep tracking the column by field
    id across the log's mid-stream rename to 'language'. At each
    checkpointable state, the view must equal a recompute against the
    SAME source version it reflects (time-travel read)."""
    from clinical_trials_etl_spark.cdc.ivm import (
        create_agg_view,
        create_distinct_view,
        last_refreshed,
        read_agg_view,
        read_distinct_view,
        refresh_agg_view,
    )

    table = create_pages_table(spark, str(tmp_path / "tbl_ivm"), n_buckets=8)
    view = create_agg_view(
        spark, table, str(tmp_path / "view_ivm"),
        group_cols=["lang"], aggs=[("count", None, "pages"),
                                   ("min", "warc_ts", "first_seen"),
                                   ("max", "warc_ts", "last_seen"),
                                   ("approx_distinct", "url", "nd_pages")])
    # a second, heterogeneous view on the same cadence: the exact
    # distinct-url multiset (HLL exact at these cardinalities, so the
    # two must agree with each other AND the recompute)
    dview = create_distinct_view(
        spark, table, str(tmp_path / "view_dv"), ["lang"], "url", "nd")

    run_stream(
        spark, log_dir, table, str(tmp_path / "ckpt_ivm"),
        max_files_per_trigger=1, maintenance=[
            (2, lambda t: [refresh_agg_view(t, v) for v in (view, dview)])],
    )
    v = last_refreshed(view)
    assert v > 0, "the in-stream cadence never refreshed the view"
    assert last_refreshed(dview) == v

    def recompute(version):
        # the group column's CURRENT name at that source version
        name = next(f["name"] for f in table.fields(table.snapshot(version))
                    if f["id"] == 5)
        return {r[0]: (r[1], r[2], r[3], r[4])
                for r in table.read(version=version).groupBy(name)
                .agg(F.count("*"), F.min("warc_ts"), F.max("warc_ts"),
                     F.count_distinct("url"))
                .collect()}

    def state():
        return {r["lang"]: (r["pages"], r["first_seen"], r["last_seen"],
                            r["nd_pages"])
                for r in read_agg_view(view).collect()}

    def dstate():
        return {r["lang"]: r["nd"]
                for r in read_distinct_view(dview).collect()}

    assert state() == recompute(v)
    assert dstate() == {k: t[3] for k, t in recompute(v).items()}

    # a manual catch-up refresh converges the views to the head
    refresh_agg_view(table, view)
    refresh_agg_view(table, dview)
    assert last_refreshed(view) == table.current_version()
    head = recompute(table.current_version())
    assert state() == head
    assert dstate() == {k: t[3] for k, t in head.items()}


def test_stream_sorted_compaction_enables_windowed_skipping(
        spark, log_dir, tmp_path):
    """A sorted compaction on the streaming schedule: the in-stream fold
    range-clusters each bucket, so a post-hoc time-window read plans
    strictly fewer files than the table holds — and still equals the
    plain filtered read exactly."""
    table = create_pages_table(spark, str(tmp_path / "tbl_sc"), n_buckets=8)
    run_stream(
        spark, log_dir, table, str(tmp_path / "ckpt_sc"),
        max_files_per_trigger=1, merge_mode="delta", maintenance=[
            (2, lambda t: t.compact(sort_by="warc_ts", rows_per_file=40))],
    )
    # make the final layout fully folded + clustered
    table.compact(sort_by="warc_ts", rows_per_file=40)
    total = len({e["path"] for e in table.files()})
    lo, hi = table.read().agg(
        F.min("warc_ts"), F.max("warc_ts")).collect()[0]
    mid = lo + (hi - lo) / 8
    win = table.read(between=("warc_ts", lo, mid))
    expected = sorted(
        r["url"] for r in table.read()
        .where(F.col("warc_ts").between(F.lit(lo), F.lit(mid)))
        .collect())
    assert sorted(r["url"] for r in win.collect()) == expected
    assert 0 < len(set(win.inputFiles())) < total


def test_stream_zorder_compaction_prunes_both_dimensions(
        spark, log_dir, tmp_path):
    """A Z-order compaction on the streaming schedule: the in-stream fold
    Morton-clusters each bucket on (warc_ts, url), so post-hoc window
    reads on EITHER dimension plan fewer files than the table holds —
    the two-access-pattern layout a sort order can't provide — and
    both still equal the plain filtered read exactly."""
    # few buckets + small files: the url probe must visit every bucket
    # (the table hash-buckets on url), so its pruning is WITHIN buckets
    # — each needs several files for a box to be skippable
    table = create_pages_table(spark, str(tmp_path / "tbl_zc"), n_buckets=2)
    run_stream(
        spark, log_dir, table, str(tmp_path / "ckpt_zc"),
        max_files_per_trigger=1, merge_mode="delta", maintenance=[
            (2, lambda t: t.compact(zorder_by=["warc_ts", "url"],
                                    rows_per_file=10))],
    )
    # make the final layout fully folded + clustered
    table.compact(zorder_by=["warc_ts", "url"], rows_per_file=10)
    total = len({e["path"] for e in table.files()})
    lo, hi = table.read().agg(
        F.min("warc_ts"), F.max("warc_ts")).collect()[0]
    mid = lo + (hi - lo) / 8
    urls = sorted(r["url"] for r in table.read().select("url").collect())
    uwin = (urls[len(urls) // 2], urls[len(urls) // 2 + len(urls) // 8])
    for win in (("warc_ts", lo, mid), ("url", *uwin)):
        got = table.read(between=win)
        col = win[0]
        expected = sorted(
            r["url"] for r in table.read()
            .where(F.col(col).between(F.lit(win[1]), F.lit(win[2])))
            .collect())
        assert sorted(r["url"] for r in got.collect()) == expected
        assert 0 < len(set(got.inputFiles())) < total, \
            f"{col} window did not prune"


def test_stream_audit_gate_publishes_when_green(spark, log_dir, tmp_path):
    """run_stream(audit=...) with a passing gate: every epoch stages,
    audits, publishes — final state identical to an ungated run, no
    staged residue, lineage carries the wap ids."""
    table = create_pages_table(spark, str(tmp_path / "tbl_au"), n_buckets=8)
    seen = []

    def gate(candidate, stats):
        # a real deployment's checks: the candidate must be readable
        # and the merge must not have emptied the table
        seen.append((candidate.count(), stats["merged_rows"]))
        return True

    run_stream(spark, log_dir, table, str(tmp_path / "ckpt_au"),
               max_files_per_trigger=1, audit=gate)
    assert len(seen) >= 2  # one audit per WAL-file epoch
    assert table.staged() == {}

    ctl = create_pages_table(spark, str(tmp_path / "tbl_au_ctl"),
                             n_buckets=8)
    run_stream(spark, log_dir, ctl, str(tmp_path / "ckpt_au_ctl"),
               max_files_per_trigger=1)
    want = {(r["url"], r["text"]) for r in ctl.read().collect()}
    assert {(r["url"], r["text"]) for r in table.read().collect()} == want

    merges = [e for e in table.lineage() if e["type"] == "merge"]
    assert len(merges) == len(seen)  # every epoch audited, none slipped
    assert all(e["wap_id"].endswith("-audit") for e in merges)


def test_stream_audit_gate_quarantines_and_resumes(spark, log_dir, tmp_path):
    """A rejecting gate stops the stream with the bad epoch aborted and
    NOT checkpointed: the table never shows the rejected data, and the
    resumed stream (quality bar fixed) re-delivers, re-audits and
    converges to the ungated result."""
    table = create_pages_table(spark, str(tmp_path / "tbl_aq"), n_buckets=8)
    ckpt = str(tmp_path / "ckpt_aq")
    n = {"published": 0}

    def strict(candidate, stats):
        if n["published"] >= 2:  # reject the 3rd epoch
            return False
        n["published"] += 1
        return True

    # run_stream unwraps Structured Streaming's StreamingQueryException
    # so quarantine handling can catch the REAL type (ADVICE round 4)
    from clinical_trials_etl_spark.cdc.stream import AuditRejected

    with pytest.raises(AuditRejected, match="rejected by the audit gate"):
        run_stream(spark, log_dir, table, ckpt,
                   max_files_per_trigger=1, audit=strict)
    assert table.staged() == {}              # aborted, not stranded
    merges = [e for e in table.lineage() if e["type"] == "merge"]
    assert len(merges) == 2                  # only the audited-green epochs
    v_reject = table.current_version()

    # incident resolved: resume with a passing gate — the rejected
    # epoch re-delivers (offsets were never committed) and publishes
    run_stream(spark, log_dir, table, ckpt,
               max_files_per_trigger=1, audit=lambda c, s: True)
    merges = [e for e in table.lineage() if e["type"] == "merge"]
    assert len(merges) > 2 and table.current_version() > v_reject
    assert table.staged() == {}

    ctl = create_pages_table(spark, str(tmp_path / "tbl_aq_ctl"),
                             n_buckets=8)
    run_stream(spark, log_dir, ctl, str(tmp_path / "ckpt_aq_ctl"),
               max_files_per_trigger=1)
    want = {(r["url"], r["text"]) for r in ctl.read().collect()}
    assert {(r["url"], r["text"]) for r in table.read().collect()} == want


def test_stream_publishes_envelope_windows(spark, log_dir, tmp_path):
    """The ingest stream doubles as a change-topic producer: every K
    applied epochs a Debezium-envelope window lands under
    envelope_dir, _SUCCESS-marked windows form a contiguous,
    gap-free version chain (the durable offset), and a consumer
    folding every envelope in commit order ends at the table's final
    key set — across the log's mid-stream schema rename."""
    import glob
    import json as _json
    import os
    import re

    from clinical_trials_etl_spark.cdc.envelope import (
        last_published,
        publish_envelope_window,
    )

    table = create_pages_table(spark, str(tmp_path / "tbl_env"), n_buckets=8)
    env = str(tmp_path / "envelopes")
    run_stream(
        spark, log_dir, table, str(tmp_path / "ckpt_env"),
        max_files_per_trigger=1,
        maintenance=[(2, lambda t: publish_envelope_window(t, env))],
    )
    assert last_published(env) > 0, "the cadence never published"

    # catch up any epochs past the last cadence boundary, then verify
    # the poller is quiescent
    publish_envelope_window(table, env)
    assert last_published(env) == table.current_version()
    assert publish_envelope_window(table, env) is None

    # windows chain without gaps or overlaps from v0 to head
    spans = sorted(
        tuple(map(int, re.match(r"window-(\d+)-(\d+)", d).groups()))
        for d in os.listdir(env))
    assert spans[0][0] == 0
    for (a, b), (c, _d) in zip(spans, spans[1:]):
        assert b == c, f"offset gap/overlap: {spans}"
    assert spans[-1][1] == table.current_version()

    # Debezium consumer fold: every envelope, commit order, final
    # key set equals the table's live keys
    objs = []
    for part in glob.glob(env + "/window-*/part-*"):
        with open(part) as f:
            objs += [_json.loads(line) for line in f if line.strip()]
    state: set[str] = set()
    for o in sorted(objs, key=lambda o: o["source"]["version"]):
        url = (o.get("before") or o["after"])["url"]
        if o["op"] == "d":
            state.discard(url)
        else:
            state.add(url)
    live = {r["url"] for r in table.read().select("url").collect()}
    assert state == live
