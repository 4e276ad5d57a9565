"""Custom stateful streaming operator: cross-batch max-LSN dedup via
``applyInPandasWithState`` (SURVEY.md §2.9 — the arbitrary-stateful
extension point the north rule's engine needs beyond windowed aggs).

The merge's per-key winner aggregation (LakeTable._winner_per_key)
collapses duplicates WITHIN a micro-batch and rejects stale rows at
the table. This operator adds the middle layer a high-duplication
stream wants: per-key state (the max lsn ever seen) carried ACROSS
micro-batches, so a redelivered or out-of-order event is dropped
before the expensive extraction/MERGE work even sees it. Emission per
key per batch is at most one row — the batch's winner — and only when
it beats the stored max; state is one long per key, the minimum
possible for the guarantee.

The reference has no streaming analog (its dedup is the MongoDB unique
index, one source of truth at the sink); this is the Spark-first
upgrade of that contract to stream time.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType([T.StructField("max_lsn", T.LongType())])


def dedup_across_batches(events: DataFrame, key: str = "url") -> DataFrame:
    """events (streaming, transport schema) -> at most one row per key
    per micro-batch: the max-lsn event, iff it beats every lsn seen in
    prior batches. Use ``outputMode("update")`` downstream."""
    out_schema = events.schema

    def fn(
        key_tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        prev = state.get[0] if state.exists else None
        best = None
        for pdf in pdfs:
            idx = pdf["lsn"].idxmax()
            row = pdf.loc[[idx]]
            if best is None or int(row["lsn"].iloc[0]) > int(best["lsn"].iloc[0]):
                best = row
        if best is None:
            return
        lsn = int(best["lsn"].iloc[0])
        if prev is None or lsn > prev:
            state.update((lsn,))
            yield best

    return (
        events.groupBy(key)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
