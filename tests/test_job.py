"""spark-submit job entry-point tests (batch + streaming modes, resume)."""

from __future__ import annotations

from clinical_trials_etl_spark.datagen.changelog import (
    LogSpec,
    write_changelog_segments,
)
from clinical_trials_etl_spark.job import main

SPEC = LogSpec(n_events=800, n_hosts=8, paths_per_host=25, seed=5)


def test_job_batch_and_stream_converge(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    write_changelog_segments(spark, SPEC, log_dir, n_segments=3)

    batch = main(["--log-dir", log_dir, "--table", str(tmp_path / "t_batch")])
    assert batch["mode"] == "replay" and batch["rows"] > 0

    stream = main([
        "--log-dir", log_dir, "--table", str(tmp_path / "t_stream"),
        "--checkpoint", str(tmp_path / "ckpt"), "--stream",
        "--metrics", str(tmp_path / "metrics"),
    ])
    assert stream["mode"] == "stream" and stream["batches"] >= 1
    assert stream["rows"] == batch["rows"]

    # re-invocation resumes from checkpoint: no new data -> same version
    again = main([
        "--log-dir", log_dir, "--table", str(tmp_path / "t_stream"),
        "--checkpoint", str(tmp_path / "ckpt"), "--stream",
    ])
    assert again["version"] == stream["version"]
    assert again["rows"] == stream["rows"]


def test_job_maintain_out_of_band(spark, tmp_path):
    """--maintain: the out-of-band maintenance pass the compaction
    rebase sanctions — delta-ingest with the job, then compact +
    expire + GC against the same table root from a separate
    invocation, state byte-identical throughout."""
    log_dir = str(tmp_path / "log")
    write_changelog_segments(spark, SPEC, log_dir, n_segments=3)

    ingest = main([
        "--log-dir", log_dir, "--table", str(tmp_path / "t"),
        "--merge-mode", "delta",
    ])
    assert ingest["mode"] == "replay" and ingest["rows"] > 0

    from clinical_trials_etl_spark.lake.table import LakeTable
    t = LakeTable(spark, str(tmp_path / "t"))
    before = {r["url"]: r["text"] for r in t.read().collect()}
    layered = max(len(v) for v in t.snapshot()["manifests"].values())
    assert layered > 1  # delta replay left layers for the fold

    maint = main([
        "--table", str(tmp_path / "t"), "--maintain",
        "--compact-sort-by", "warc_ts",
        "--expire-keep", "2", "--gc-orphans-older-than", "0",
    ])
    assert maint["mode"] == "maintain"
    assert maint["compact"]["compacted_buckets"] > 0
    assert maint["version"] == t.current_version()
    assert "expire" in maint and "gc" in maint

    after = {r["url"]: r["text"] for r in t.read().collect()}
    assert after == before
    assert max(len(v) for v in t.snapshot()["manifests"].values()) == 1

    # ingesting without --log-dir is a usage error, not a crash
    import pytest
    with pytest.raises(SystemExit):
        main(["--table", str(tmp_path / "t")])


def test_job_stream_publishes_envelopes(spark, tmp_path):
    """--envelope-dir/--publish-envelopes-every: the spark-submit
    streaming job produces the change topic alongside the table."""
    from clinical_trials_etl_spark.cdc.envelope import last_published

    log_dir = str(tmp_path / "log_env")
    write_changelog_segments(spark, SPEC, log_dir, n_segments=3)
    env = str(tmp_path / "envelopes")
    res = main([
        "--log-dir", log_dir, "--table", str(tmp_path / "t_env"),
        "--checkpoint", str(tmp_path / "ckpt_env"), "--stream",
        "--max-files-per-trigger", "1",
        "--envelope-dir", env, "--publish-envelopes-every", "1",
    ])
    assert res["mode"] == "stream"
    assert last_published(env) == res["version"]


def test_job_refreshes_views_in_all_modes(spark, tmp_path):
    """--view mounts existing materialized views on every job shape:
    batch replay and --maintain refresh to head, --stream refreshes on
    the applied-epoch cadence then converges to head — each checked
    against a recompute of the same aggregate."""
    from pyspark.sql import functions as F

    from clinical_trials_etl_spark.cdc.ivm import (
        create_agg_view,
        create_distinct_view,
        last_refreshed,
        read_agg_view,
        read_distinct_view,
    )
    from clinical_trials_etl_spark.lake.table import LakeTable

    log_dir = str(tmp_path / "log")
    write_changelog_segments(spark, SPEC, log_dir, n_segments=4)
    root = str(tmp_path / "t")

    # seed the table with the first segment so views can be created
    seed_dir = str(tmp_path / "seed")
    write_changelog_segments(
        spark, LogSpec(n_events=200, n_hosts=8, paths_per_host=25,
                       seed=5), seed_dir, n_segments=1)
    main(["--log-dir", seed_dir, "--table", root])
    table = LakeTable(spark, root)
    # field id 5 is lang at v1 (renamed to language later in the ramp)
    gname = next(f["name"] for f in table.fields() if f["id"] == 5)
    view = create_agg_view(
        spark, table, str(tmp_path / "v"), [gname],
        [("count", None, "pages"),
         ("approx_distinct", "url", "nd_pages")])
    dview = create_distinct_view(
        spark, table, str(tmp_path / "dv"), [gname], "url", "nd")

    # batch replay with both views mounted
    out = main(["--log-dir", log_dir, "--table", root,
                "--view", str(tmp_path / "v"),
                "--view", str(tmp_path / "dv")])
    assert out["mode"] == "replay" and len(out["views"]) == 2
    assert last_refreshed(view) == table.current_version()
    assert last_refreshed(dview) == table.current_version()

    def recompute():
        name = next(f["name"] for f in table.fields() if f["id"] == 5)
        return {r[0]: (r[1], r[2]) for r in
                table.read().groupBy(name)
                .agg(F.count("*"), F.count_distinct("url")).collect()}

    exp = recompute()
    got = {r[gname]: (r["pages"], r["nd_pages"])
           for r in read_agg_view(view).collect()}
    assert got == exp
    assert ({r[gname]: r["nd"] for r in read_distinct_view(dview).collect()}
            == {k: v[1] for k, v in exp.items()})

    # --maintain also refreshes (the out-of-band view-maintenance shape)
    write_changelog_segments(
        spark, LogSpec(n_events=300, n_hosts=8, paths_per_host=25,
                       seed=9, lsn_offset=SPEC.n_events * 8),
        str(tmp_path / "log2"), n_segments=1)
    main(["--log-dir", str(tmp_path / "log2"), "--table", root])
    maint = main(["--table", root, "--maintain",
                  "--view", str(tmp_path / "v")])
    assert maint["views"][0]["to"] == table.current_version()
    assert ({r[gname]: (r["pages"], r["nd_pages"])
             for r in read_agg_view(view).collect()} == recompute())

    # --stream on a fresh table+views: cadence + final convergence
    root2 = str(tmp_path / "t2")
    main(["--log-dir", seed_dir, "--table", root2])
    t2 = LakeTable(spark, root2)
    v2 = create_agg_view(spark, t2, str(tmp_path / "v2"), [gname],
                         [("count", None, "pages")])
    out = main(["--log-dir", log_dir, "--table", root2,
                "--checkpoint", str(tmp_path / "ckpt2"), "--stream",
                "--view", str(tmp_path / "v2"),
                "--refresh-views-every", "2"])
    assert out["mode"] == "stream"
    assert last_refreshed(v2) == t2.current_version()
    name2 = next(f["name"] for f in t2.fields() if f["id"] == 5)
    assert ({r[gname]: r["pages"] for r in read_agg_view(v2).collect()}
            == {r[0]: r[1] for r in t2.read().groupBy(name2)
                .agg(F.count("*")).collect()})


def test_job_branch_ingest_audit_fast_forward_cycle(spark, tmp_path):
    """The audit-branch deployment shape end-to-end through the CLI:
    seed main -> ingest an update log into --branch audit (main
    untouched) -> audit the branch state -> --maintain --fast-forward
    publishes atomically -> main equals a control table that ingested
    both logs directly; re-running the branch leg after publish is an
    exactly-once no-op on main."""
    from clinical_trials_etl_spark.lake.table import LakeTable

    seed = str(tmp_path / "seed")
    write_changelog_segments(spark, SPEC, seed, n_segments=2)
    upd_spec = LogSpec(n_events=400, n_hosts=8, paths_per_host=25,
                       seed=11, lsn_offset=SPEC.n_events * 4)
    upd = str(tmp_path / "upd")
    write_changelog_segments(spark, upd_spec, upd, n_segments=2)

    root = str(tmp_path / "t")
    main(["--log-dir", seed, "--table", root])
    t = LakeTable(spark, root)
    v_main = t.current_version()
    rows_main = t.read().count()

    out = main(["--log-dir", upd, "--table", root,
                "--branch", "audit", "--batch-prefix", "upd"])
    assert out["branch"] == "audit" and out["rows"] > rows_main
    assert t.current_version() == v_main          # main untouched
    assert t.read().count() == rows_main
    assert t.branches()["audit"] == {"forked_at": v_main, "head": 2}

    # audit reads the branch state, then the maintenance pass publishes
    branch_rows = t.branch("audit").read().count()
    assert branch_rows > rows_main
    maint = main(["--table", root, "--maintain",
                  "--fast-forward", "audit"])
    assert maint["fast_forward"]["published"] == "audit"
    assert maint["fast_forward"]["commits"] == 2
    assert t.read().count() == branch_rows
    assert t.branches() == {}

    # control: both logs ingested directly
    ctl_root = str(tmp_path / "ctl")
    main(["--log-dir", seed, "--table", ctl_root])
    main(["--log-dir", upd, "--table", ctl_root,
          "--batch-prefix", "upd"])
    ctl = LakeTable(spark, ctl_root)

    def state(table):
        return {r["url"]: (r["text"], r["fetch_status"])
                for r in table.read().collect()}

    assert state(t) == state(ctl)

    # exactly-once across the seam: re-ingesting the update log into a
    # NEW branch and publishing again is a no-op (all batch ids known)
    v_after = t.current_version()
    main(["--log-dir", upd, "--table", root, "--branch", "again",
          "--batch-prefix", "upd"])
    # the ledger the fast_forward carried onto main skips every batch
    assert t.branch("again").current_version() == 0
    maint2 = main(["--table", root, "--maintain",
                   "--fast-forward", "again"])
    assert maint2["fast_forward"]["noop"] is True
    assert t.branches() == {}
    # at most the pass's own compact commit moved the version
    assert t.current_version() in (v_after, v_after + 1)
    assert state(t) == state(ctl)


def test_job_stream_into_branch_then_publish(spark, tmp_path):
    """--stream --branch: the checkpointed exactly-once streaming leg
    lands on the audit branch; fast_forward publishes; state equals
    streaming the same log straight into main."""
    from clinical_trials_etl_spark.lake.table import LakeTable

    seed = str(tmp_path / "seed")
    write_changelog_segments(spark, SPEC, seed, n_segments=2)
    upd_spec = LogSpec(n_events=400, n_hosts=8, paths_per_host=25,
                       seed=13, lsn_offset=SPEC.n_events * 4)
    upd = str(tmp_path / "upd")
    write_changelog_segments(spark, upd_spec, upd, n_segments=2)

    root = str(tmp_path / "t")
    main(["--log-dir", seed, "--table", root])
    t = LakeTable(spark, root)
    v_seed = t.current_version()
    out = main(["--log-dir", upd, "--table", root,
                "--checkpoint", str(tmp_path / "ckpt"), "--stream",
                "--branch", "audit"])
    assert out["mode"] == "stream" and out["branch"] == "audit"
    assert t.current_version() == v_seed          # main untouched
    main(["--table", root, "--maintain", "--fast-forward", "audit"])

    ctl_root = str(tmp_path / "ctl")
    main(["--log-dir", seed, "--table", ctl_root])
    main(["--log-dir", upd, "--table", ctl_root,
          "--checkpoint", str(tmp_path / "ckpt2"), "--stream"])
    ctl = LakeTable(spark, ctl_root)
    assert ({r["url"]: r["text"] for r in t.read().collect()}
            == {r["url"]: r["text"] for r in ctl.read().collect()})


def test_job_consume_envelopes_replica_site(spark, tmp_path):
    """--consume-envelopes: the replica site as its own spark-submit
    invocation — poller mode applies complete windows exactly-once;
    --stream tails the topic off a checkpoint; both converge to the
    source's live state."""
    from clinical_trials_etl_spark.cdc.envelope import (
        publish_envelope_window,
    )
    from clinical_trials_etl_spark.lake.table import LakeTable

    fields = [{"id": 1, "name": "url", "type": "string"},
              {"id": 2, "name": "val", "type": "string"}]

    def batch(rows):
        return spark.createDataFrame(
            rows, "url string, val string, lsn long, op string")

    def live(t):
        return {(r["url"], r["val"]) for r in t.read().collect()}

    src = LakeTable.create(spark, str(tmp_path / "src"), fields, "url",
                           n_buckets=4)
    env = str(tmp_path / "env")
    src.merge(batch([("u1", "a", 1, "I"), ("u2", "b", 2, "I")]),
              batch_id="e-1")
    publish_envelope_window(src, env)
    src.merge(batch([("u1", "a2", 10, "U"), ("u2", None, 11, "D")]),
              batch_id="e-2")
    publish_envelope_window(src, env)

    # poller replica
    rep1 = str(tmp_path / "rep1")
    LakeTable.create(spark, rep1, fields, "url", n_buckets=4)
    out = main(["--table", rep1, "--consume-envelopes", env])
    assert out["mode"] == "consume" and out["windows_applied"] == 2
    assert live(LakeTable(spark, rep1)) == live(src)

    # streaming replica off a checkpoint; a later window streams in on
    # the next invocation
    rep2 = str(tmp_path / "rep2")
    LakeTable.create(spark, rep2, fields, "url", n_buckets=4)
    out = main(["--table", rep2, "--consume-envelopes", env,
                "--checkpoint", str(tmp_path / "ckpt"), "--stream"])
    assert out["mode"] == "consume-stream" and out["epochs"] >= 1
    assert live(LakeTable(spark, rep2)) == live(src)
    src.merge(batch([("u3", "c", 20, "I")]), batch_id="e-3")
    publish_envelope_window(src, env)
    out = main(["--table", rep2, "--consume-envelopes", env,
                "--checkpoint", str(tmp_path / "ckpt"), "--stream"])
    assert live(LakeTable(spark, rep2)) == live(src)

    # guardrails
    import pytest
    with pytest.raises(SystemExit, match="exclusive"):
        main(["--table", rep1, "--consume-envelopes", env,
              "--log-dir", env])
    with pytest.raises(SystemExit, match="existing"):
        main(["--table", str(tmp_path / "nope"),
              "--consume-envelopes", env])


def test_job_maintain_expires_envelope_topic(spark, tmp_path):
    """--maintain --envelope-dir --expire-envelopes-to: topic
    retention runs on the same out-of-band maintenance pass as table
    retention."""
    import os

    from clinical_trials_etl_spark.cdc.envelope import (
        last_published,
        publish_envelope_window,
    )
    from clinical_trials_etl_spark.lake.table import LakeTable

    log_dir = str(tmp_path / "log")
    write_changelog_segments(spark, SPEC, log_dir, n_segments=3)
    root = str(tmp_path / "t")
    env = str(tmp_path / "env")
    main(["--log-dir", log_dir, "--table", root])
    t = LakeTable(spark, root)
    for v in range(1, t.current_version() + 1):
        from clinical_trials_etl_spark.cdc.envelope import (
            export_changes_envelope,
        )

        export_changes_envelope(t, os.path.join(
            env, f"window-{v - 1:08d}-{v:08d}"), v - 1, v)
    hwm = last_published(env)
    out = main(["--table", root, "--maintain", "--envelope-dir", env,
                "--expire-envelopes-to", str(hwm - 1)])
    assert out["expire_envelopes"]["removed_windows"] == hwm - 1
    assert last_published(env) == hwm

    import pytest
    with pytest.raises(SystemExit, match="envelope-dir"):
        main(["--table", root, "--maintain",
              "--expire-envelopes-to", "1"])
    # a --stream cadence flag without its target is a usage error too,
    # raised before any stream starts (nothing is checkpointed)
    stream = ["--log-dir", log_dir, "--table", root, "--stream",
              "--checkpoint", str(tmp_path / "ckpt")]
    with pytest.raises(SystemExit, match="envelope-dir"):
        main(stream + ["--publish-envelopes-every", "1"])
    with pytest.raises(SystemExit, match="--view"):
        main(stream + ["--refresh-views-every", "1"])
    assert not os.path.exists(tmp_path / "ckpt")


def test_job_maintain_row_ops(spark, tmp_path):
    """--maintain --delete-where/--update-where: the GDPR-erasure and
    quiesced-correction job shapes — row-level ops run out-of-band
    from the same spark-submit invocation as compaction/expiry."""
    log_dir = str(tmp_path / "log_rowops")
    write_changelog_segments(spark, SPEC, log_dir, n_segments=2)
    root = str(tmp_path / "t_rowops")
    main(["--log-dir", log_dir, "--table", root,
          "--merge-mode", "delta"])

    from pyspark.sql import functions as F

    from clinical_trials_etl_spark.lake.table import LakeTable
    t = LakeTable(spark, root)
    victim_host = t.read().select(
        F.regexp_extract("url", r"https?://([^/]+)/", 1).alias("h")
    ).groupBy("h").count().orderBy(F.desc("count")).first()["h"]
    n_victim = t.read().filter(
        F.col("url").contains(victim_host)).count()
    assert n_victim > 0
    n_total = t.read().count()

    res = main([
        "--table", root, "--maintain",
        "--update-where", f"url LIKE '%{victim_host}%'",
        "--update-set", "language=('x-' || language)",
        "--delete-where", "language LIKE 'x-%'",
        "--expire-keep", "2", "--gc-orphans-older-than", "0",
    ])
    assert res["update_where"]["updated_rows"] == n_victim
    # update runs first, so the delete predicate matches its output
    assert res["delete_where"]["deleted_rows"] == n_victim
    assert t.read().count() == n_total - n_victim
    assert t.read().filter(F.col("url").contains(victim_host)).count() == 0


def test_job_maintain_compacts_envelope_topic(spark, tmp_path):
    """--maintain --compact-envelopes: topic log compaction runs on
    the same out-of-band maintenance pass; a replica built from the
    compacted topic converges to the source."""
    import os

    from clinical_trials_etl_spark.cdc.envelope import apply_envelopes
    from clinical_trials_etl_spark.lake.table import LakeTable

    from clinical_trials_etl_spark.cdc.envelope import (
        publish_envelope_window,
    )
    from clinical_trials_etl_spark.cdc.replay import replay

    log_dir = str(tmp_path / "log_ec")
    write_changelog_segments(spark, SPEC, log_dir, n_segments=4)
    root = str(tmp_path / "t_ec")
    env = str(tmp_path / "env_ec")
    # replay, then row-level corrections — a published window each
    t = replay(spark, log_dir, root)
    publish_envelope_window(t, env)
    t.update_where("url LIKE '%1'", {"language": "'zz'"})
    publish_envelope_window(t, env)
    t.delete_where("language = 'zz'")
    publish_envelope_window(t, env)
    n_before = len([d for d in os.listdir(env)
                    if d.startswith("window-")])
    assert n_before == 3

    res = main(["--table", root, "--maintain",
                "--envelope-dir", env, "--compact-envelopes"])
    ce = res["compact_envelopes"]
    assert ce["runs_compacted"] >= 1
    assert len([d for d in os.listdir(env)
                if d.startswith("window-")]) < n_before
    rep_root = str(tmp_path / "rep_ec")
    rep = LakeTable.create(spark, rep_root, t.fields(), t.key_field(),
                           n_buckets=4)
    apply_envelopes(rep, env)
    assert ({r["url"]: r["text"] for r in rep.read().collect()}
            == {r["url"]: r["text"] for r in t.read().collect()})


def test_job_row_ops_op_id_idempotent_rerun(spark, tmp_path):
    """--op-id: rerunning a crashed maintenance invocation must not
    double-apply a non-idempotent assignment."""
    log_dir = str(tmp_path / "log_opid")
    write_changelog_segments(spark, SPEC, log_dir, n_segments=2)
    root = str(tmp_path / "t_opid")
    main(["--log-dir", log_dir, "--table", root])

    from pyspark.sql import functions as F

    from clinical_trials_etl_spark.lake.table import LakeTable
    t = LakeTable(spark, root)
    base = {r["url"]: r["fetch_status"] for r in t.read().collect()}
    args = ["--table", root, "--maintain",
            "--update-where", "fetch_status IS NOT NULL",
            "--update-set", "fetch_status=fetch_status + 1",
            "--op-id", "ticket-123"]
    r1 = main(args)
    assert r1["update_where"]["updated_rows"] > 0
    r2 = main(args)                      # the crash-rerun
    assert r2["update_where"]["skipped"]
    got = {r["url"]: r["fetch_status"] for r in t.read().collect()}
    assert all(got[u] == (v + 1 if v is not None else None)
               for u, v in base.items())


def test_job_expire_older_than_alone_not_ignored(spark, tmp_path):
    """--expire-older-than without --expire-keep must run the expiry
    with the default floor, not silently do nothing."""
    log_dir = str(tmp_path / "log_exp")
    write_changelog_segments(spark, SPEC, log_dir, n_segments=2)
    root = str(tmp_path / "t_exp")
    main(["--log-dir", log_dir, "--table", root])
    res = main(["--table", root, "--maintain",
                "--expire-older-than", "3600"])
    assert "expire" in res


def test_job_replay_compaction_honours_cluster_flags(spark, tmp_path):
    """Batch replay's --compact-every fold clusters as --compact-sort-by
    / --compact-rows-per-file ask, as it does under --stream."""
    from clinical_trials_etl_spark.lake.table import LakeTable

    log_dir = str(tmp_path / "log_cl")
    write_changelog_segments(spark, SPEC, log_dir, n_segments=2)
    root = str(tmp_path / "t_cl")
    main(["--log-dir", log_dir, "--table", root, "--n-buckets", "4",
          "--merge-mode", "delta", "--compact-every", "1",
          "--compact-sort-by", "warc_ts",
          "--compact-rows-per-file", "40"])
    t = LakeTable(spark, root)
    folds = [lin for lin in t.lineage() if lin["type"] == "compaction"]
    assert folds and all(lin.get("sort_by") == ["warc_ts"]
                         for lin in folds)
    per_bucket = {}
    for e in t.files():
        per_bucket[e["bucket"]] = per_bucket.get(e["bucket"], 0) + 1
    assert max(per_bucket.values()) > 1  # rows_per_file split buckets


def test_job_stream_envelope_dir_needs_cadence(spark, tmp_path):
    """--stream --envelope-dir without --publish-envelopes-every would
    publish nothing: a usage error, like the reverse case."""
    import pytest

    with pytest.raises(SystemExit, match="publish-envelopes-every"):
        main(["--log-dir", str(tmp_path / "log"),
              "--table", str(tmp_path / "t"),
              "--checkpoint", str(tmp_path / "ckpt"), "--stream",
              "--envelope-dir", str(tmp_path / "env")])
