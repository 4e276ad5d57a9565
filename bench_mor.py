#!/usr/bin/env python
"""Write-amplification evidence: COW vs merge-on-read delta commits.

Scenario that dominates streaming CDC at design scale: a LARGE base
table receiving a steady drip of SMALL micro-batches. COW rewrites
every touched bucket per batch (write cost ~ bucket size x batches);
delta mode appends O(batch) and compacts once at the end.

Builds one base table (cow), then applies the same 16 small update
batches under each mode against identical copies, reporting wall time
and bytes written during the update phase.

Usage: python bench_mor.py [base_events] [update_events]
       (defaults 400_000 / 16_000 -> 16 batches of ~1000)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from clinical_trials_etl_spark.cdc.replay import replay  # noqa: E402
from clinical_trials_etl_spark.datagen.changelog import (  # noqa: E402
    LogSpec,
    write_changelog_segments,
)
from clinical_trials_etl_spark.session import get_spark  # noqa: E402

N_BUCKETS = 64


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def main() -> None:
    base_events = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    update_events = int(sys.argv[2]) if len(sys.argv) > 2 else 16_000
    n_update_batches = 16
    work = tempfile.mkdtemp(prefix="bench_mor_")
    spark = get_spark("bench-mor", cores=os.environ.get("SPARK_GRAFT_CPUS", "16"))
    try:
        # same url universe for base and updates (same host/path space)
        base_spec = LogSpec(n_events=base_events, n_hosts=2000,
                            paths_per_host=100, seed=42, html_pad_blocks=40)
        upd_spec = LogSpec(n_events=update_events, n_hosts=2000,
                           paths_per_host=100, seed=43, p_insert=0.05,
                           p_update=0.9, html_pad_blocks=40,
                           lsn_offset=base_events)  # updates post-date base
        base_log = os.path.join(work, "base_log")
        upd_log = os.path.join(work, "upd_log")
        write_changelog_segments(spark, base_spec, base_log, n_segments=1,
                                 files_per_segment=32)
        write_changelog_segments(spark, upd_spec, upd_log,
                                 n_segments=n_update_batches,
                                 files_per_segment=4)

        results = {}
        for mode in ("cow", "delta"):
            root = os.path.join(work, f"table_{mode}")
            # distinct batch-id namespaces per phase: both phases start
            # at segment index 0, so a shared prefix would make
            # is_applied() skip the update phase's first batch
            table = replay(spark, base_log, root, segments_per_batch=1,
                           n_buckets=N_BUCKETS, batch_prefix="base")
            bytes_before = _dir_bytes(root)
            t0 = time.perf_counter()
            table = replay(spark, upd_log, root, segments_per_batch=1,
                           n_buckets=N_BUCKETS, batch_prefix="update",
                           merge_mode=mode)
            if mode == "delta":
                table.compact()
            wall = time.perf_counter() - t0
            results[mode] = {
                "update_wall_sec": round(wall, 2),
                # orphaned (superseded) files are not deleted at commit,
                # so directory growth == total bytes written this phase
                "bytes_written": _dir_bytes(root) - bytes_before,
                "final_rows": table.read().count(),
            }

        assert results["cow"]["final_rows"] == results["delta"]["final_rows"]
        out = {
            "base_events": base_events,
            "update_batches": n_update_batches,
            "events_per_batch": update_events // n_update_batches,
            **{f"{m}_{k}": v for m, r in results.items() for k, v in r.items()},
            "delta_speedup": round(
                results["cow"]["update_wall_sec"]
                / results["delta"]["update_wall_sec"], 2),
            "write_amplification_ratio": round(
                results["cow"]["bytes_written"]
                / max(results["delta"]["bytes_written"], 1), 2),
        }
        print(json.dumps(out))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
