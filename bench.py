#!/usr/bin/env python
"""Per-round benchmark harness (driver contract).

Runs every registered query from ``__spark_entry__.queries()`` against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``, plus a CDC replay throughput measurement
over a deterministic synthetic change log (the engine's true headline
metric per BASELINE.json), and prints ONE JSON line:

    {"metric": "query_suite_steady_state_sec", "value": <sec>,
     "unit": "sec", "queries": {...}, "sf": ..., "cdc": {...}}

``value`` is the sum of per-query steady-state (min-of-2) times — the
round-over-round comparable figure; ``harness_total_wall_sec`` is the
whole harness including the cold pass, warmups, and the CDC leg's log
generation + replay.

Each query is forced with a noop-format write (full computation, no
driver-side row transfer) so the timing measures the Spark plan, not
collect() serialization.

Scaling evidence (local[8] vs local[32]) is recorded in
BENCH/BASELINE.md ("Round-5 scaling + suite runs"); perfbench's
``cdc.scaling_eff`` measures it on the current engine.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from clinical_trials_etl_spark.session import get_spark  # noqa: E402

CDC_EVENTS = int(os.environ.get("SPARK_GRAFT_CDC_EVENTS", "200000"))


def spin_canary() -> float:
    """Fixed single-thread CPU loop; wall time moves 1:1 with hypervisor
    steal (quiet baseline ~0.19 s on this VM, observed 1.5-3x under
    co-tenant load — see BENCH/BASELINE.md). Recorded so each bench
    JSON carries its own contention reading."""
    t0 = time.perf_counter()
    x = 0
    for i in range(4_000_000):
        x += i * i
    return round(time.perf_counter() - t0, 3)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_queries(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, float]]:
    import __spark_entry__ as entry

    # warmup: JVM JIT, codegen compile, parquet footer cache — so the
    # first measured query isn't charged for cold-start
    _force(entry.entry(spark))
    # ... and the Python/Arrow workers: one tiny pandas-UDF stage at
    # full parallelism spawns + imports the workers once, so the first
    # UDF-bearing query measures steady-state kernel throughput (what a
    # long-running job sustains), not the one-time 32-process spawn
    from clinical_trials_etl_spark.dist import ensure_package_on_executors
    from clinical_trials_etl_spark.functions.html_extract import extract_text_udf
    from pyspark.sql import functions as F

    ensure_package_on_executors(spark)
    warm = spark.range(spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    )
    _force(warm.select(extract_text_udf(F.encode(F.lit("<p>w</p>"), "UTF-8"))))
    # ... and the benchmark tables: one full scan each, so per-query
    # times are position-independent (before this, whichever query ran
    # FIRST against a table absorbed its OS-page-cache + footer cold
    # read — reordering the registry for driver re-certification was
    # moving multiple seconds between queries). Steady-state per-table
    # IO is the regime a long-running job sees; the scans are charged
    # to bench wall, never to any query.
    import glob

    for pq in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        _force(spark.read.parquet(pq))

    # Steady-state timing: each query runs twice and reports the min —
    # run 1 pays one-time whole-stage-codegen compilation + Python
    # worker module imports for that query's plan shape (a cost a
    # long-running job pays once, and which otherwise lands on
    # whichever query happens to run FIRST with that shape, moving
    # seconds between queries when the registry order changes). The
    # cold first-run times are reported alongside, not hidden.
    times: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name, fn in entry.queries().items():
        per_run = []
        for _ in range(2):
            df = fn(spark, sf_dir)
            t0 = time.perf_counter()
            _force(df)
            per_run.append(round(time.perf_counter() - t0, 4))
        cold[name] = per_run[0]
        times[name] = min(per_run)
    return times, cold


def bench_cdc(spark, n_events: int) -> dict:
    """Generate a seeded change log and replay it through the full apply
    path (evolve -> normalize -> MERGE with max-LSN winner + extract)."""
    from clinical_trials_etl_spark.cdc.replay import replay
    from clinical_trials_etl_spark.datagen.changelog import (
        LogSpec,
        write_changelog_segments,
    )
    from clinical_trials_etl_spark.lake.table import LakeTable

    work = tempfile.mkdtemp(prefix="bench_cdc_")
    try:
        spec = LogSpec(n_events=n_events, n_hosts=max(50, n_events // 200),
                       paths_per_host=200, seed=42)
        log_dir = os.path.join(work, "log")
        write_changelog_segments(spark, spec, log_dir, n_segments=8)
        t0 = time.perf_counter()
        table = replay(spark, log_dir, os.path.join(work, "table"),
                       segments_per_batch=1)
        wall = time.perf_counter() - t0
        final_rows = table.read().count()
        # same log through the merge-on-read path (delta commits +
        # compaction every 4 epochs) — the design-scale configuration
        # for drip-into-a-growing-table regimes; final state must be
        # row-identical to the COW replay
        t0 = time.perf_counter()
        dtable = replay(spark, log_dir, os.path.join(work, "table_mor"),
                        segments_per_batch=1, merge_mode="delta",
                        maintenance=[(4, LakeTable.compact)])
        dwall = time.perf_counter() - t0
        drows = dtable.read().count()
        assert drows == final_rows, (drows, final_rows)
        return {
            "events": n_events,
            "replay_sec": round(wall, 3),
            "events_per_sec": round(n_events / wall, 1),
            "final_rows": final_rows,
            "delta_replay_sec": round(dwall, 3),
            "delta_events_per_sec": round(n_events / dwall, 1),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark("bench", cores=cpus)

    canary_before = spin_canary()
    t0 = time.perf_counter()
    qtimes, qcold = bench_queries(spark, sf_dir)
    canary_mid = spin_canary()  # catches steal bursts between the legs
    cdc = bench_cdc(spark, CDC_EVENTS)
    total = time.perf_counter() - t0
    canary_after = spin_canary()

    # value = steady-state query-suite seconds (sum of per-query minima)
    # — the round-over-round comparable figure (r1: 104.7/63, r2:
    # 57.7/80). harness_total_wall additionally includes the cold pass,
    # warmups, and CDC log generation + replay.
    print(json.dumps({
        "metric": "query_suite_steady_state_sec",
        "value": round(sum(qtimes.values()), 3),
        "harness_total_wall_sec": round(total, 3),
        "unit": "sec",
        "queries": qtimes,
        "queries_cold_first_run": qcold,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cdc": cdc,
        "spin_canary_sec": [canary_before, canary_mid, canary_after],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
