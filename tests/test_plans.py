"""Physical-plan shape assertions — the 100 TB guardrails. These pin
the plans that correctness tests can't see: no global single-partition
sort in pagination, broadcast joins for dims, single Arrow UDF
evaluation for multi-field extraction, pushed-down parquet filters."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from clinical_trials_etl_spark.operators import analytics as A
from clinical_trials_etl_spark.operators import htmlqueries as HQ


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_p7_pagination_has_no_global_window_sort(spark, sf_dir):
    plan = _plan(A.q_p7_pagination(spark, sf_dir))
    assert "Window" not in plan, "global row_number window is back"
    assert "TakeOrderedAndProject" in plan


def test_j4_dims_are_broadcast(spark, sf_dir):
    plan = _plan(A.q_j4_revenue_by_nation(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_dim_broadcast_gates_on_size(spark, sf_dir):
    """The customer/part/supplier hints are size-conditional
    (VERDICT r4 #3): hinted while Catalyst's estimate fits under
    autoBroadcastJoinThreshold, returned UNhinted above it so the
    planner degrades to a shuffle join instead of OOMing the driver
    at 100× scale. Tiny dims (nation/region/bands) keep the plain
    unconditional F.broadcast at their call sites."""
    from clinical_trials_etl_spark.operators.common import dim_broadcast

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        assert dim_broadcast(c) is not c   # sandbox scale: hinted
        spark.conf.set(key, "1024")        # pretend customer is huge
        assert dim_broadcast(c) is c       # degrades: planner decides
        # plan-level, both ways: at the forced-low threshold only the
        # unconditionally-hinted tiny dims (nation, region) broadcast;
        # customer joins via shuffle
        plan = _plan(A.q_j4_revenue_by_nation(spark, sf_dir))
        assert plan.count("BroadcastHashJoin") == 2
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        spark.conf.set(key, "-1")          # broadcast disabled outright
        assert dim_broadcast(c) is c
    finally:
        spark.conf.set(key, old)
    plan = _plan(A.q_j4_revenue_by_nation(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # c, n, r all broadcast


def test_multi_field_extractor_evaluates_udf_once(spark, sf_dir):
    df = HQ.q_html_selector_fields(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("ArrowEvalPython") == 1


def test_parquet_filter_pushdown(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") == 42)
        .select("o_orderkey", "o_totalprice")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]" in plan
    # column pruning reaches the scan
    assert "o_comment" not in plan


@pytest.mark.parametrize("merge_mode", ["cow", "delta"])
def test_cow_apply_hands_merge_an_unshuffled_source(spark, tmp_path,
                                                    merge_mode):
    """Single-shuffle guardrail, both merge modes: apply_batch must NOT
    pre-shuffle the batch — the max-LSN winner decision belongs to the
    merge's one aggregation, so the source handed to merge() carries no
    Exchange and no Arrow kernel, and the extraction arrives as the
    post-winner ``fill`` hook instead."""
    from clinical_trials_etl_spark.cdc import apply as apply_mod
    from clinical_trials_etl_spark.cdc.replay import create_pages_table
    from clinical_trials_etl_spark.datagen.changelog import (
        LogSpec,
        changelog_df,
    )
    from clinical_trials_etl_spark.lake.table import LakeTable

    table = create_pages_table(spark, str(tmp_path / "t"), n_buckets=4)
    batch = changelog_df(spark, LogSpec(n_events=50, n_hosts=5, seed=7))

    seen = {}
    real_merge = LakeTable.merge

    def spy(self, source, **kw):
        seen["plan"] = source._jdf.queryExecution().executedPlan().toString()
        seen["fill"] = kw.get("fill")
        return real_merge(self, source, **kw)

    LakeTable.merge = spy
    try:
        apply_mod.apply_batch(table, batch, "plan-gate-1",
                              merge_mode=merge_mode)
    finally:
        LakeTable.merge = real_merge

    assert "Exchange" not in seen["plan"], "batch pre-shuffle is back"
    assert "ArrowEvalPython" not in seen["plan"], (
        "extraction must run post-winner, not on the raw batch"
    )
    assert seen["fill"] is apply_mod.fill_text_post_winner


@pytest.mark.parametrize("mode", ["cow", "delta"])
def test_merge_decides_winners_in_one_aggregation(spark, tmp_path, mode):
    """merge() owns the winner rule in both modes: ``fill`` receives
    the output of ONE max_by aggregation (one exchange — on the bucket
    in cow, on the key in delta — and one partial aggregation) — over
    target ∪ batch in cow, over the batch alone in delta — and no
    extraction has run before it."""
    from clinical_trials_etl_spark.cdc import apply as apply_mod
    from clinical_trials_etl_spark.cdc.replay import create_pages_table
    from clinical_trials_etl_spark.datagen.changelog import (
        LogSpec,
        changelog_df,
    )

    table = create_pages_table(spark, str(tmp_path / "t"), n_buckets=4)
    apply_mod.apply_batch(
        table, changelog_df(spark, LogSpec(n_events=40, n_hosts=4, seed=3)),
        "seed-1")
    batch = changelog_df(
        spark, LogSpec(n_events=40, n_hosts=4, seed=4, lsn_offset=40))
    seen = {}

    def spy_fill(df):
        seen["plan"] = _plan(df)
        return apply_mod.fill_text_post_winner(df)

    table.merge(apply_mod.normalize_batch(batch, table.fields()),
                batch_id="plan-2", mode=mode, fill=spy_fill)
    plan = seen["plan"]
    assert plan.count("Exchange") == 1, plan
    assert plan.count("partial_max_by") == 1, plan
    assert "ArrowEvalPython" not in plan, plan
    # only cow reads the target (the batch here is generated, not read)
    assert ("Scan parquet" in plan) == (mode == "cow"), plan


def test_asof_join_is_windowed_not_nested_loop(spark, sf_dir):
    from clinical_trials_etl_spark.operators import events_ops as E

    plan = _plan(E.q_j5_asof_last_click(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, (
        "as-of must be the windowed carry-forward, not an inequality join"
    )
    assert "Window" in plan
    assert plan.count("Exchange") <= 2  # one shuffle by user + output sort


def test_range_join_broadcasts_the_band_dimension(spark, sf_dir):
    from clinical_trials_etl_spark.operators import events_ops as E

    plan = _plan(E.q_j6_value_band_rollup(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan  # 5-row dim: the wanted plan


def test_fill_kernel_parses_only_needy_rows(spark):
    """The extraction kernel must PARSE only rows that need text.
    Spark evaluates a Python UDF unconditionally (ArrowEvalPython) even
    under CASE WHEN, and a split-filter-union duplicates the kernel's
    child plan — so the mask lives inside the pandas kernel
    (fill_text_udf). Gate both halves: (a) unit-level, the parser runs
    exactly once per null-text live row; (b) plan-level, the fill stays
    single-branch (one ArrowEvalPython, no Union — the child plan is
    not duplicated)."""
    import pandas as pd

    from clinical_trials_etl_spark.functions import html_extract as hx
    from clinical_trials_etl_spark.cdc.apply import fill_text_post_winner
    from clinical_trials_etl_spark.lake.table import SYS_DELETED, SYS_LSN

    # (a) the pandas function itself, with a counting parser
    calls = []
    real = hx._extract_text_one

    def counting(payload):
        calls.append(payload)
        return real(payload)

    hx._extract_text_one = counting
    try:
        out = hx.fill_text_udf.func(
            pd.Series([b"<p>a</p>", b"<p>b</p>", b"<p>c</p>"]),
            pd.Series([None, "kept", None]),
            pd.Series([False, False, True]),
        )
    finally:
        hx._extract_text_one = real
    assert list(out) == ["a", "kept", None]
    assert len(calls) == 1, "kernel must parse only null-text live rows"

    # (b) single-branch plan
    df = spark.createDataFrame(
        [("a", b"<p>x</p>", None, 1, False)],
        f"url string, html binary, text string, {SYS_LSN} long, "
        f"{SYS_DELETED} boolean",
    )
    plan = _plan(fill_text_post_winner(df))
    assert plan.count("ArrowEvalPython") == 1
    assert "Union" not in plan, "fill must not duplicate its child plan"


def test_mor_read_columns_prunes_the_parquet_scan(spark, tmp_path):
    """Column pruning through merge-on-read reconciliation: Catalyst
    cannot prune through the winner aggregation's payload struct, so
    read(columns=...) must push the projection to _read_reconciled —
    the scan of a delta-layered table asked for one field must read
    that field + system cols only, never the html blobs."""
    import re

    from clinical_trials_etl_spark.cdc.replay import replay
    from clinical_trials_etl_spark.datagen.changelog import (
        LogSpec,
        write_changelog_segments,
    )

    log = str(tmp_path / "wal")
    write_changelog_segments(
        spark, LogSpec(n_events=400, n_hosts=6, seed=9), log, n_segments=2
    )
    table = replay(spark, log, str(tmp_path / "tbl"), merge_mode="delta")

    schemas = re.findall(r"ReadSchema: (\S+)",
                         _plan(table.read(columns=["url"])))
    assert schemas, "no parquet scan in plan"
    for s in schemas:
        assert "binary" not in s and "f_3" not in s, s  # html never read
        assert "f_1:string" in s  # url
    # ... while the unhinted path documents the limitation (full width)
    full = re.findall(r"ReadSchema: (\S+)",
                      _plan(table.read().select("url")))
    assert any("binary" in s for s in full)

    # value identity with the unpruned path, both shapes
    a = sorted(tuple(r) for r in table.read(columns=["url", "language"]).collect())
    b = sorted(tuple(r) for r in table.read().select("url", "language").collect())
    assert a == b and a


_KV = [{"id": 1, "name": "url", "type": "string"},
       {"id": 2, "name": "val", "type": "string"}]


def _kv_batch(spark, n: int, lsn0: int):
    return spark.createDataFrame(
        [(f"u{i}", f"v{lsn0 + i}", lsn0 + i, "I") for i in range(n)],
        "url string, val string, lsn long, op string")


def test_delta_merge_writes_one_layer_file_in_two_jobs(spark, tmp_path):
    """Job budget of a small delta commit: the winner aggregation's key
    exchange and the write — 2 Spark jobs — and, as AQE coalesces the
    small exchange to one partition, ONE parquet file for every bucket
    the batch touches, listed under each of them."""
    import os

    from clinical_trials_etl_spark.lake.table import LakeTable
    from tests.spark_jobs import count_jobs

    t = LakeTable.create(spark, str(tmp_path / "t"), _KV, "url",
                         n_buckets=16)
    src = _kv_batch(spark, 64, 1)
    touched = {r[0] for r in src.select(
        t.bucket_expr(F.col("url"))).distinct().collect()}
    assert len(touched) >= 8
    with count_jobs(spark) as jobs:
        t.merge(src, batch_id="d-1", mode="delta", touched_hint=touched)
    assert jobs["jobs"] == 2

    snap = t.snapshot()
    lin = snap["lineage"]
    entries = t._commit_files(lin)
    (path,) = {e["path"] for e in entries}
    out_dir = os.path.dirname(path)
    assert [f for f in os.listdir(out_dir) if f.endswith(".parquet")] \
        == [os.path.basename(path)]
    assert sorted(e["bucket"] for e in entries) == sorted(touched)
    assert all(snap["manifests"][str(b)] == [lin["commit_manifest"]]
               for b in touched)


def test_full_read_plans_each_layer_path_once(spark, tmp_path):
    """A delta layer file is listed under every bucket it holds; a full
    read must still scan it once (a path planned twice reads its rows
    twice)."""
    import re

    from clinical_trials_etl_spark.lake.table import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "t"), _KV, "url",
                         n_buckets=16)
    for k in range(3):
        t.merge(_kv_batch(spark, 48, 100 * k), batch_id=f"d-{k}",
                mode="delta")
    df = t.read()
    planned = sum(int(n) for n in re.findall(
        r"InMemoryFileIndex\((\d+) paths?\)", _plan(df)))
    assert planned == len(set(df.inputFiles())) == 3
    assert df.count() == 48


def test_string_key_lookup_runs_one_job(spark, tmp_path):
    """Job budget of a point lookup on a string key: the key is hashed
    on the driver, so the bucket read is the only Spark job."""
    from clinical_trials_etl_spark.lake.table import LakeTable
    from tests.spark_jobs import count_jobs

    t = LakeTable.create(spark, str(tmp_path / "t"), _KV, "url",
                         n_buckets=16)
    t.merge(_kv_batch(spark, 48, 1), batch_id="c-1")
    with count_jobs(spark) as jobs:
        rows = t.lookup("u7").collect()
    assert jobs["jobs"] == 1
    assert [r["val"] for r in rows] == ["v8"]


def _write_plans(spark, monkeypatch) -> list[str]:
    """The executed plan of every DataFrame written from now on."""
    cls = type(spark.range(1))
    real = cls.write
    plans: list[str] = []

    def spy(df):
        plans.append(_plan(df))
        return real.fget(df)

    monkeypatch.setattr(cls, "write", property(spy))
    return plans


def _touched(t, src) -> set[int]:
    return {r[0] for r in src.select(
        t.bucket_expr(F.col("url"))).distinct().collect()}


def test_cow_merge_runs_one_bucket_exchange_in_two_jobs(spark, tmp_path,
                                                        monkeypatch):
    """Job budget of a COW commit on a base-only table: ONE exchange,
    hash-partitioned on ``_bucket`` and sized by column (so AQE sets
    its tasks), under the winner aggregation and the write — 2 Spark
    jobs, one parquet file per touched bucket."""
    import os

    from clinical_trials_etl_spark.lake.table import LakeTable
    from tests.spark_jobs import count_jobs

    t = LakeTable.create(spark, str(tmp_path / "t"), _KV, "url",
                         n_buckets=16)
    t.merge(_kv_batch(spark, 64, 1), batch_id="c-0")
    src = _kv_batch(spark, 64, 100)
    touched = _touched(t, src)
    plans = _write_plans(spark, monkeypatch)
    with count_jobs(spark) as jobs:
        t.merge(src, batch_id="c-1", touched_hint=touched)
    assert jobs["jobs"] == 2
    (plan,) = plans
    assert plan.count("Exchange") == 1, plan
    assert re.search(r"Exchange hashpartitioning\(_bucket#\d+, \d+\), "
                     r"REPARTITION_BY_COL", plan), plan
    assert "REPARTITION_BY_NUM" not in plan, plan
    assert plan.count("partial_max_by") == 1, plan

    lin = t.snapshot()["lineage"]
    entries = t._commit_files(lin)
    assert sorted(e["bucket"] for e in entries) == sorted(touched)
    out_dir = os.path.dirname(os.path.dirname(entries[0]["path"]))
    for b in touched:
        assert len([f for f in os.listdir(f"{out_dir}/_bucket={b}")
                    if f.endswith(".parquet")]) == 1, b


def test_cow_merge_over_delta_layers_aggregates_once(spark, tmp_path,
                                                     monkeypatch):
    """A COW commit over buckets holding delta layers reads them
    unreconciled: one winner aggregation over base ∪ layers ∪ batch,
    after the one bucket exchange — 2 Spark jobs, as on a base-only
    table."""
    from clinical_trials_etl_spark.lake.table import LakeTable
    from tests.spark_jobs import count_jobs

    t = LakeTable.create(spark, str(tmp_path / "t"), _KV, "url",
                         n_buckets=16)
    t.merge(_kv_batch(spark, 64, 1), batch_id="c-0")
    for k in range(3):
        t.merge(_kv_batch(spark, 48, 100 * (k + 1)), batch_id=f"d-{k}",
                mode="delta")
    src = _kv_batch(spark, 64, 1000)
    touched = _touched(t, src)
    plans = _write_plans(spark, monkeypatch)
    with count_jobs(spark) as jobs:
        t.merge(src, batch_id="c-1", touched_hint=touched)
    assert jobs["jobs"] == 2
    (plan,) = plans
    assert plan.count("Exchange") == 1, plan
    assert plan.count("partial_max_by") == 1, plan
    assert {r["url"]: r["val"] for r in t.read().collect()} \
        == {f"u{i}": f"v{1000 + i}" for i in range(64)}


def test_compact_over_delta_layers_plans_one_exchange(spark, tmp_path,
                                                      monkeypatch):
    """compact() folds delta layers with the winner aggregation on top
    of the write's bucket exchange — one Exchange in its plan."""
    from clinical_trials_etl_spark.lake.table import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "t"), _KV, "url",
                         n_buckets=16)
    for k in range(3):
        t.merge(_kv_batch(spark, 48, 100 * k), batch_id=f"d-{k}",
                mode="delta")
    plans = _write_plans(spark, monkeypatch)
    t.compact()
    (plan,) = plans
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(_bucket#" in plan, plan
    assert plan.count("partial_max_by") == 1, plan
    assert all(len(v) == 1 for v in t.snapshot()["manifests"].values())
    assert {r["url"]: r["val"] for r in t.read().collect()} \
        == {f"u{i}": f"v{200 + i}" for i in range(48)}
