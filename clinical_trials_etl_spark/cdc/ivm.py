"""Incremental view maintenance: a materialized group-by aggregate
over a LakeTable, kept current from the pre/post-image change feed
instead of recomputed from the base table.

The classic counting algorithm (Gupta/Mumick/Subrahmanian, SIGMOD '93)
expressed over ``LakeTable.changes(pre_images=True)``: every change row
carries a sign (+1 for ``insert``/``update_postimage``, -1 for
``update_preimage``/``delete``), so for the self-maintainable aggregate
family — COUNT, COUNT(col), SUM, AVG — the signed per-group totals of a
feed window ARE the aggregate deltas between its endpoint snapshots
(per-commit pre-images equal the previous commit's post-images, so
contributions telescope across any multi-commit window). A refresh is

    O(|changes|) feed read + O(touched view buckets) state update

regardless of base-table size — at design scale, maintaining per-host
page counts over a 10^11-row page table costs each poll only the rows
that changed, never a table scan.

COUNT DISTINCT comes in both textbook forms: EXACT via
``create_distinct_view`` — a counting-maintained (group, value)
multiset whose read is a rollup over live value rows (Gupta/Mumick's
aggregate-over-auxiliary-view construction; exact under any delete
history, state O(distinct pairs)) — and APPROX via the
``approx_distinct`` aggregate kind, which stores one mergeable
Datasketches HLL sketch per group: insert windows UNION the window
sketch in O(changes) (the append-heavy web-ingest common case), and
windows containing a retraction recompute just the flagged groups
(HLL is not subtractable), sharing the MIN/MAX hybrid's pruned
semi-joined source read.

MIN/MAX use the standard hybrid (they are not self-maintainable under
deletion by pure counting — a deleted row that held the extreme can
force a rescan of its group): maintain incrementally on the insert
side (``new_ext = least/greatest(stored_ext, inserted values)``), and
recompute ONLY the groups where a retraction's value ties-or-beats the
stored extreme — a deletion of a non-extreme value can never move
MIN/MAX, so those groups stay on the O(changes) path. The recompute
reads the source column-pruned to (group, value) and semi-joined to
the flagged groups; with extreme-deletions rare (the common case for
monotone-ish data), refreshes stay O(changes) + O(flagged groups'
rows).

The view is itself a LakeTable keyed by a synthetic group key, so the
consumed-source-version offset is the view's own ``batch_hwm`` for the
``ivm-<version>`` batch prefix — committed atomically with the state
update (the same exactly-once-by-construction mechanism as
cdc/mirror.py): a crash between "applied the deltas" and "recorded the
offset" is unrepresentable, and a redelivered refresh is a metadata
no-op. Groups whose row count reaches zero are tombstoned (they
disappear from reads), matching what a recompute would produce.

Reference analog: the reference recomputes every analytics aggregate
from full collection scans on each poll
(trials_extractor/storage/mongodb_storage.py:154-245,
st_trial_analytics.py) — this module is the incremental replacement
for that polling pattern.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_trials_etl_spark.lake.table import LakeTable

_PREFIX = "ivm-"
_GK = "_gk"
_SPEC_FILE = "_ivm_spec.json"

# aggregate kinds and the state columns each maintains
_KINDS = ("count", "count_col", "sum", "avg", "min", "max",
          "approx_distinct")

_INT_TYPES = {"int", "integer", "long", "bigint", "short", "smallint"}
_NUMERIC_TYPES = _INT_TYPES | {"float", "double", "real"}
# MIN/MAX need an ordered domain the state column can store
_ORDERABLE_TYPES = _NUMERIC_TYPES | {"string", "timestamp"}
# hll_sketch_agg's supported input types (Datasketches HLL)
_SKETCHABLE_TYPES = {"int", "integer", "long", "bigint", "string",
                     "binary"}


def _group_key(group_cols: list[str]) -> F.Column:
    """Deterministic single-string key for a group tuple. NULL is
    distinguished from every string value by construction: values get
    a ``v`` prefix, NULL maps to a bare ``\\x00`` (which no prefixed
    value can equal), and columns join on the \\x1f unit separator."""
    parts = [
        F.when(F.col(c).isNull(), F.lit("\x00"))
        .otherwise(F.concat(F.lit("v"), F.col(c).cast("string")))
        for c in group_cols
    ]
    return F.concat_ws("\x1f", *parts)


def _state_fields(spec: dict, source_fields: list[dict]) -> list[dict]:
    """Physical schema of the view table: the group columns plus one
    (or two, for AVG) state columns per aggregate."""
    src_type = {f["name"]: f["type"] for f in source_fields}
    fields: list[dict] = [{"name": _GK, "type": "string"}]
    for c in spec["group_cols"]:
        fields.append({"name": c, "type": src_type[c]})
    for kind, col, alias in spec["aggs"]:
        if kind == "count":
            fields.append({"name": alias, "type": "long"})
        elif kind == "count_col":
            fields.append({"name": alias, "type": "long"})
        elif kind in ("sum", "avg"):
            if src_type[col] not in _NUMERIC_TYPES:
                raise ValueError(
                    f"{kind}({col!r}) needs a numeric column, got "
                    f"{src_type[col]!r}")
            t = "long" if src_type[col] in _INT_TYPES else "double"
            fields.append({"name": f"__sum_{alias}", "type": t})
            fields.append({"name": f"__n_{alias}", "type": "long"})
        elif kind in ("min", "max"):
            if src_type[col] not in _ORDERABLE_TYPES:
                raise ValueError(
                    f"{kind}({col!r}) needs an orderable column, got "
                    f"{src_type[col]!r}")
            t = ("long" if src_type[col] in _INT_TYPES
                 else "double" if src_type[col] in _NUMERIC_TYPES
                 else src_type[col])
            fields.append({"name": f"__ext_{alias}", "type": t})
            fields.append({"name": f"__n_{alias}", "type": "long"})
        elif kind == "approx_distinct":
            if src_type[col] not in _SKETCHABLE_TYPES:
                raise ValueError(
                    f"approx_distinct({col!r}) needs an int/long/string/"
                    f"binary column, got {src_type[col]!r} (exact "
                    "distinct over any type: create_distinct_view)")
            fields.append({"name": f"__hll_{alias}", "type": "binary"})
            fields.append({"name": f"__n_{alias}", "type": "long"})
        else:
            raise ValueError(f"unsupported aggregate kind {kind!r} "
                             f"(supported: {_KINDS})")
    return [{"id": i + 1, **f} for i, f in enumerate(fields)]


def _contribs(spec: dict, w: F.Column,
              cur_of: dict[str, str] | None = None) -> list[F.Column]:
    """Signed per-row contributions to each state column (the feed's
    sign column ``w`` is +1 or -1). NULL values contribute 0 — the sum
    state therefore matches SQL SUM/AVG null-skipping exactly.
    ``cur_of`` maps spec column names to the source's current names
    (they diverge after a rename)."""
    cur_of = cur_of or {}
    out: list[F.Column] = []
    for kind, col, alias in spec["aggs"]:
        c = F.col(cur_of.get(col, col)) if col is not None else None
        if kind == "count":
            out.append(w.alias(alias))
        elif kind == "count_col":
            out.append(
                F.when(c.isNotNull(), w).otherwise(F.lit(0))
                .alias(alias))
        elif kind in ("sum", "avg"):
            out.append(
                F.when(c.isNotNull(), w * c)
                .otherwise(F.lit(0)).alias(f"__sum_{alias}"))
            out.append(
                F.when(c.isNotNull(), w).otherwise(F.lit(0))
                .alias(f"__n_{alias}"))
        elif kind in ("min", "max", "approx_distinct"):
            # only the non-null COUNT is counting-maintained; the
            # extreme / sketch itself rides the hybrid path
            out.append(
                F.when(c.isNotNull(), w).otherwise(F.lit(0))
                .alias(f"__n_{alias}"))
    return out


def _state_cols(spec: dict) -> list[str]:
    """The COUNTING state columns (signed-sum maintained). MIN/MAX
    extremes (``__ext_*``) are deliberately excluded — they are not
    summable and ride the hybrid path."""
    cols: list[str] = []
    for kind, _col, alias in spec["aggs"]:
        if kind in ("sum", "avg"):
            cols += [f"__sum_{alias}", f"__n_{alias}"]
        elif kind in ("min", "max", "approx_distinct"):
            cols.append(f"__n_{alias}")
        else:
            cols.append(alias)
    return cols


def _mm_aggs(spec: dict) -> list[tuple[str, str, str]]:
    """The (kind, column, alias) triples of the MIN/MAX aggregates."""
    return [(k, c, a) for k, c, a in spec["aggs"] if k in ("min", "max")]


def _hll_aggs(spec: dict) -> list[tuple[str, str, str]]:
    """The (kind, column, alias) triples of approx_distinct aggregates."""
    return [(k, c, a) for k, c, a in spec["aggs"]
            if k == "approx_distinct"]


def _value_cols(spec: dict) -> list[str]:
    return sorted({c for _k, c, _a in spec["aggs"] if c is not None})


def create_agg_view(
    spark: SparkSession,
    source: LakeTable,
    root: str,
    group_cols: list[str],
    aggs: list[tuple[str, str | None, str]],
    n_buckets: int = 4,
) -> LakeTable:
    """A fresh empty materialized aggregate view of ``source``.

    ``aggs``: list of ``(kind, column, alias)`` with kind one of
    ``count`` (rows; column ignored), ``count_col`` (non-null count),
    ``sum``, ``avg``. The first ``refresh_agg_view`` bootstraps from
    ``changes_window(0, cur)`` — the full feed IS the initial state,
    so there is no separate backfill path to keep consistent."""
    src_fields = {f["name"] for f in source.fields()}
    missing = (set(group_cols) | set(_value_cols(
        {"aggs": aggs}))) - src_fields
    if missing:
        raise ValueError(f"unknown source columns: {sorted(missing)}")
    aliases = [a for _k, _c, a in aggs]
    if len(set(aliases)) != len(aliases):
        raise ValueError("duplicate aggregate aliases")
    _count_alias({"aggs": aggs})  # liveness count required up front
    # pin source columns by FIELD ID, not name: the lake's schema
    # evolution renames by id (cdc/registry.py), and the view must
    # keep tracking a renamed column (same seam as cdc/mirror.py)
    id_of = {f["name"]: f["id"] for f in source.fields()}
    spec = {"group_cols": list(group_cols),
            "group_ids": [id_of[c] for c in group_cols],
            "aggs": [list(a) for a in aggs],
            "col_ids": {c: id_of[c] for c in _value_cols(
                {"aggs": aggs})}}
    view = LakeTable.create(
        spark, root,
        fields=_state_fields(spec, source.fields()),
        key_field=_GK, n_buckets=n_buckets)
    with open(os.path.join(root, _SPEC_FILE), "w") as f:
        json.dump(spec, f)
    return view


def _load_spec(view: LakeTable) -> dict:
    with open(os.path.join(view.root, _SPEC_FILE)) as f:
        spec = json.load(f)
    spec["aggs"] = [tuple(a) for a in spec["aggs"]]
    return spec


def last_refreshed(view: LakeTable) -> int:
    """Source version this view reflects; -1 before the first refresh."""
    return int(view.snapshot()["batch_hwm"].get(_PREFIX, -1))


def refresh_agg_view(
    source: LakeTable,
    view: LakeTable,
    to_version: int | None = None,
) -> dict:
    """Advance the view to the source's ``to_version`` (default:
    current) by applying the signed pre/post-image feed.

    One column-pruned feed read (only the group + value columns cross
    the scan), one batch-sized delta aggregation, one state update
    restricted to the view buckets the delta touches, one view merge —
    never a base-table scan for the counting family. The feed is
    ``changes_window`` — one diff over all the window's commits, not
    a plan arm per commit, which is what keeps the refresh's fixed
    cost flat as the refresh cadence widens. MIN/MAX aggregates add
    the hybrid step: groups whose retractions tie-or-beat their
    stored extreme are recomputed from a (group, value)-pruned,
    group-semi-joined source read; all other groups stay on the
    O(changes) fast path.

    The delta aggregate is persisted for the refresh's duration: it
    feeds both the touched-bucket collect and the state merge (and,
    for MIN/MAX, the recompute flag), so without the persist the feed
    read would run once per consumer."""
    spec = _load_spec(view)
    cur = source.current_version()
    if to_version is None:
        to_version = cur
    start = max(last_refreshed(view), 0)
    if to_version <= start:
        return {"skipped": True, "from": start, "to": start, "groups": 0}

    # resolve the spec's pinned field ids against the source's
    # to_version schema — the feed comes back under to_version's
    # names, which a rename may have changed since view creation
    src_by_id = {f["id"]: f["name"]
                 for f in source.fields(source.snapshot(to_version))}
    gone = ([i for i in spec["group_ids"] if i not in src_by_id]
            + [i for i in spec["col_ids"].values() if i not in src_by_id])
    if gone:
        raise ValueError(
            f"source dropped field ids {sorted(set(gone))} the view "
            f"aggregates over — recreate the view")
    cur_groups = [src_by_id[i] for i in spec["group_ids"]]
    cur_of = {c: src_by_id[i] for c, i in spec["col_ids"].items()}

    feed_cols = sorted(set(cur_groups) | set(cur_of.values()))
    # one diff over the whole window: signed contributions identical
    # to the per-commit feed's, from one plan arm
    feed = source.changes_window(
        start, to_version, pre_images=True, columns=feed_cols)
    w = (F.when(F.col("_change_type").isin("insert", "update_postimage"),
                F.lit(1)).otherwise(F.lit(-1)))
    is_post = F.col("_change_type").isin("insert", "update_postimage")
    state_cols = _state_cols(spec)
    state_types = _types(spec, view)
    mm = _mm_aggs(spec)
    hll = _hll_aggs(spec)
    view_types = {f["name"]: f["type"] for f in view.fields()}

    mm_sel: list[F.Column] = []
    mm_agg: list[F.Column] = []
    for kind, col, alias in mm:
        c = F.col(cur_of.get(col, col))
        f = F.min if kind == "min" else F.max
        mm_sel.append(F.when(is_post, c).alias(f"__insv_{alias}"))
        mm_sel.append(F.when(~is_post, c).alias(f"__retv_{alias}"))
        mm_agg.append(f(F.col(f"__insv_{alias}")).alias(f"__ins_{alias}"))
        mm_agg.append(f(F.col(f"__retv_{alias}")).alias(f"__ret_{alias}"))
    for _kind, col, alias in hll:
        c = F.col(cur_of.get(col, col))
        # window insert-side sketch (hll_sketch_agg skips nulls, so a
        # retraction-only group yields an EMPTY sketch, union-neutral)
        # + a did-anything-retract flag: HLL is not subtractable, so
        # any non-null retraction sends the group to the recompute path
        mm_sel.append(F.when(is_post, c).alias(f"__insv_{alias}"))
        mm_sel.append(
            F.when(~is_post & c.isNotNull(), F.lit(1))
            .otherwise(F.lit(0)).alias(f"__retv_{alias}"))
        mm_agg.append(
            F.hll_sketch_agg(f"__insv_{alias}").alias(f"__inssk_{alias}"))
        mm_agg.append(F.max(f"__retv_{alias}").alias(f"__retn_{alias}"))
    # an update whose images cancel on every maintained column (e.g. a
    # value column outside the spec changed) is a no-op; with MIN/MAX,
    # any non-null insert/retract value also keeps the group (it can
    # move the extreme even when the counting deltas cancel); with
    # approx_distinct, any retraction keeps the group (inserts always
    # show in the counting column already)
    noop = [f"`{c}` != 0" for c in state_cols]
    noop += [f"`__{side}_{a}` IS NOT NULL"
             for _k, _c, a in mm for side in ("ins", "ret")]
    noop += [f"`__retn_{a}` > 0" for _k, _c, a in hll]
    delta = (
        feed.select(
            _group_key(cur_groups).alias(_GK),
            *[F.col(cur).alias(c) for c, cur in
              zip(spec["group_cols"], cur_groups)],
            *_contribs(spec, w, cur_of),
            *mm_sel)
        .groupBy(_GK)
        .agg(*[F.any_value(F.col(c), True).alias(c)
               for c in spec["group_cols"]],
             *[F.sum(c).cast(t).alias(c)
               for c, t in zip(state_cols, state_types)],
             *mm_agg)
        .where(" or ".join(noop))
    ).persist()
    cleanup: list = []
    try:
        # prune the state read to the view buckets the delta touches —
        # bounded driver metadata (≤ n_buckets ints), the same pruning
        # seam as LakeTable.lookup
        touched = {
            r["b"] for r in
            delta.select(view.bucket_expr(F.col(_GK)).alias("b"))
            .distinct().collect()
        }
        if not touched:
            # still record the consumed offset so the next poll is O(new)
            view.merge(
                view.spark.createDataFrame(
                    [], _merge_schema(spec, view)),
                batch_id=f"{_PREFIX}{to_version}",
                lineage={"source_versions": [start, to_version]})
            return {"skipped": False, "from": start, "to": to_version,
                    "groups": 0}
        if mm or hll:
            merged = _merge_state_hybrid(
                source, view, spec, delta, touched, to_version,
                cur_groups, cur_of, state_cols, state_types,
                view_types, cleanup)
        else:
            # semi-join the touched-bucket state down to the groups the
            # delta actually names: merge carries unchanged rows
            # forward, so re-summing and re-merging a bucket's
            # untouched groups is pure waste — for a high-cardinality
            # multiset view (create_distinct_view) that is the
            # difference between O(changed groups) and O(bucket state)
            # rows through the agg + merge (BENCH/BASELINE.md
            # "Distinct-view maintenance")
            prev = (
                view.read_raw(touched)
                .where(~F.col("_deleted"))
                .join(delta.select(_GK), _GK, "left_semi")
                .select(_GK, *spec["group_cols"], *state_cols)
            )
            # union + re-sum instead of an outer join: one narrow
            # aggregation over (touched state ∪ delta), no build-side
            # choice to get wrong
            merged = (
                prev.unionByName(delta.select(
                    _GK, *spec["group_cols"], *state_cols))
                .groupBy(_GK)
                .agg(*[F.any_value(F.col(c), True).alias(c)
                       for c in spec["group_cols"]],
                     *[F.sum(c).cast(t).alias(c)
                       for c, t in zip(state_cols, state_types)])
            )
        count_alias = _count_alias(spec)
        src = merged.select(
            F.col(_GK),
            *[F.col(c) for c in spec["group_cols"]],
            *[F.col(c) for c in state_cols],
            *[F.col(f"__ext_{a}") for _k, _c, a in mm],
            *[F.col(f"__hll_{a}") for _k, _c, a in hll],
            F.lit(to_version).cast("long").alias("lsn"),
            F.when(F.col(count_alias) <= 0, F.lit("D"))
            .otherwise(F.lit("U")).alias("op"),
        )
        stats = view.merge(
            src, batch_id=f"{_PREFIX}{to_version}",
            lineage={"source_versions": [start, to_version]},
            touched_hint=touched)
    finally:
        delta.unpersist()
        for df in cleanup:
            df.unpersist()
    return {"skipped": stats.get("skipped", False), "from": start,
            "to": to_version, "groups": stats.get("merged_rows", 0)}


def _merge_state_hybrid(
    source: LakeTable,
    view: LakeTable,
    spec: dict,
    delta,
    touched: set[int],
    to_version: int,
    cur_groups: list[str],
    cur_of: dict[str, str],
    state_cols: list[str],
    state_types: list[str],
    view_types: dict[str, str],
    cleanup: list,
):
    """New state rows for a spec with MIN/MAX aggregates: prev state
    FULL OUTER JOIN delta on the group key, counting columns summed,
    extremes via insert-fast/delete-recompute:

    - fast path: ``least/greatest(stored_ext, window insert extreme)``
      — correct whenever no retraction could have removed the stored
      extreme;
    - recompute path: a group is flagged when some retraction value
      ties-or-beats its stored extreme (equal values must flag —
      multiplicity is unknown), or retracts into a group with no
      stored extreme (in-window churn). Flagged groups' extremes come
      from a (group, value)-pruned source read at ``to_version``
      semi-joined to the flagged group keys — O(flagged groups' rows),
      never a full scan when deletes miss the extremes.

    The retraction values the feed shows are from-state images — the
    exact values the stored extremes were computed over (the view is
    synced to the window start), so the tie-or-beat test is sound.

    approx_distinct state (a Datasketches HLL sketch) rides the same
    two paths: inserts UNION the window's insert-side sketch into the
    stored one (sketches are mergeable — the insert-only case, the
    common one for append-heavy web ingest, is pure O(changes)); any
    non-null retraction flags the group for recompute, because HLL is
    not subtractable — no tie test can save it. The recompute shares
    the same (group, value)-pruned, semi-joined source read as the
    MIN/MAX extremes."""
    mm = _mm_aggs(spec)
    hll = _hll_aggs(spec)
    prev_cols = ([*spec["group_cols"], *state_cols]
                 + [f"__ext_{a}" for _k, _c, a in mm]
                 + [f"__hll_{a}" for _k, _c, a in hll])
    # groups the window never names keep their stored state via the
    # merge's carry-forward — only delta-named groups need to flow
    # through the state join (same O(changed groups) seam as the
    # counting-only path)
    prev = (
        view.read_raw(touched)
        .where(~F.col("_deleted"))
        .join(delta.select(_GK), _GK, "left_semi")
        .select(F.col(_GK),
                *[F.col(c).alias(f"_p_{c}") for c in prev_cols])
    )
    j = prev.join(delta, _GK, "full_outer")

    out_cols: list[F.Column] = [
        F.coalesce(F.col(c), F.col(f"_p_{c}")).alias(c)
        for c in spec["group_cols"]
    ]
    for c, t in zip(state_cols, state_types):
        out_cols.append(
            (F.coalesce(F.col(c), F.lit(0))
             + F.coalesce(F.col(f"_p_{c}"), F.lit(0)))
            .cast(t).alias(c))
    flag_cols: list[str] = []
    for kind, col, alias in mm:
        ext_t = view_types[f"__ext_{alias}"]
        pe = F.col(f"_p___ext_{alias}")
        ins = F.col(f"__ins_{alias}").cast(ext_t)
        ret = F.col(f"__ret_{alias}").cast(ext_t)
        fast = (F.least if kind == "min" else F.greatest)(pe, ins)
        beats = (ret <= pe) if kind == "min" else (ret >= pe)
        new_n = (F.coalesce(F.col(f"__n_{alias}"), F.lit(0))
                 + F.coalesce(F.col(f"_p___n_{alias}"), F.lit(0)))
        need = (ret.isNotNull() & (pe.isNull() | beats) & (new_n > 0))
        out_cols.append(fast.alias(f"__fast_{alias}"))
        out_cols.append(need.alias(f"__need_{alias}"))
        flag_cols.append(f"__need_{alias}")
    for _kind, col, alias in hll:
        pe = F.col(f"_p___hll_{alias}")
        ins = F.col(f"__inssk_{alias}")
        # hll_union(x, NULL) is NULL — coalesce sides explicitly; the
        # window's insert sketch is an EMPTY (non-null) sketch when the
        # group saw only retractions, which unions as a no-op
        fast = (F.when(pe.isNull(), ins)
                .when(ins.isNull(), pe)
                .otherwise(F.hll_union(pe, ins)))
        new_n = (F.coalesce(F.col(f"__n_{alias}"), F.lit(0))
                 + F.coalesce(F.col(f"_p___n_{alias}"), F.lit(0)))
        need = ((F.coalesce(F.col(f"__retn_{alias}"), F.lit(0)) > 0)
                & (new_n > 0))
        out_cols.append(fast.alias(f"__fast_{alias}"))
        out_cols.append(need.alias(f"__need_{alias}"))
        flag_cols.append(f"__need_{alias}")
    j2 = j.select(F.col(_GK), *out_cols).persist()
    cleanup.append(j2)
    flag = F.lit(False)
    for c in flag_cols:
        flag = flag | F.col(c)
    flagged = j2.where(flag).select(_GK)
    rec_agg = []
    for kind, col, alias in mm:
        f = F.min if kind == "min" else F.max
        ext_t = view_types[f"__ext_{alias}"]
        rec_agg.append(
            f(F.col(cur_of.get(col, col))).cast(ext_t)
            .alias(f"__rec_{alias}"))
    for _kind, col, alias in hll:
        rec_agg.append(
            F.hll_sketch_agg(F.col(cur_of.get(col, col)))
            .alias(f"__rec_{alias}"))
    val_cols = sorted({cur_of.get(c, c)
                       for _k, c, _a in (*mm, *hll)})
    rec = (
        source.read(
            version=to_version,
            columns=sorted(set(cur_groups) | set(val_cols)))
        .select(_group_key(cur_groups).alias(_GK),
                *[F.col(c) for c in val_cols])
        .join(flagged, _GK, "left_semi")
        .groupBy(_GK)
        .agg(*rec_agg)
    )
    final_cols: list[F.Column] = [
        F.col(c) for c in (*spec["group_cols"], *state_cols)]
    for kind, col, alias in mm:
        final_cols.append(
            F.when(F.col(f"__need_{alias}"), F.col(f"__rec_{alias}"))
            .otherwise(F.col(f"__fast_{alias}"))
            .alias(f"__ext_{alias}"))
    for _kind, _col, alias in hll:
        final_cols.append(
            F.when(F.col(f"__need_{alias}"), F.col(f"__rec_{alias}"))
            .otherwise(F.col(f"__fast_{alias}"))
            .alias(f"__hll_{alias}"))
    # j2 stays persisted through the caller's merge action (it feeds
    # both the semi-join build and the final rows); the caller
    # unpersists it via the cleanup list after the merge commits
    return j2.join(rec, _GK, "left").select(F.col(_GK), *final_cols)


def _count_alias(spec: dict) -> str:
    """The state column that carries the group's live row count (used
    to detect emptied groups). A bare COUNT agg provides it; otherwise
    one is implied — create_agg_view requires at least one count."""
    for kind, _c, alias in spec["aggs"]:
        if kind == "count":
            return alias
    raise ValueError(
        "the view needs a ('count', None, alias) aggregate — it is "
        "the liveness signal that retires emptied groups")


def _types(spec: dict, view: LakeTable) -> list[str]:
    by_name = {f["name"]: f["type"] for f in view.fields()}
    return [by_name[c] for c in _state_cols(spec)]


def _merge_schema(spec: dict, view: LakeTable):
    import pyspark.sql.types as T
    m = {"string": T.StringType(), "long": T.LongType(),
         "double": T.DoubleType(), "int": T.IntegerType(),
         "boolean": T.BooleanType(), "timestamp": T.TimestampType(),
         "binary": T.BinaryType()}
    fields = [T.StructField(f["name"], m.get(f["type"], T.StringType()))
              for f in view.fields()]
    fields += [T.StructField("lsn", T.LongType()),
               T.StructField("op", T.StringType())]
    return T.StructType(fields)


def read_agg_view(view: LakeTable) -> DataFrame:
    """The maintained aggregate as a user-facing DataFrame: group
    columns + one column per aggregate alias (AVG computed from its
    sum/count state at read time, NULL for all-null groups — matching
    SQL AVG)."""
    spec = _load_spec(view)
    df = view.read()
    cols = [F.col(c) for c in spec["group_cols"]]
    for kind, _c, alias in spec["aggs"]:
        if kind == "avg":
            n = F.col(f"__n_{alias}")
            cols.append(
                F.when(n > 0,
                       F.col(f"__sum_{alias}").cast("double") / n)
                .alias(alias))
        elif kind == "sum":
            # SQL SUM of an all-null group is NULL, not 0 — the
            # non-null counter state distinguishes the two
            cols.append(
                F.when(F.col(f"__n_{alias}") > 0,
                       F.col(f"__sum_{alias}")).alias(alias))
        elif kind in ("min", "max"):
            # SQL MIN/MAX of an all-null group is NULL
            cols.append(
                F.when(F.col(f"__n_{alias}") > 0,
                       F.col(f"__ext_{alias}")).alias(alias))
        elif kind == "approx_distinct":
            # COUNT(DISTINCT) of an all-null group is 0, not NULL
            cols.append(
                F.when(F.col(f"__n_{alias}") > 0,
                       F.hll_sketch_estimate(F.col(f"__hll_{alias}")))
                .otherwise(F.lit(0)).cast("long").alias(alias))
        else:
            cols.append(F.col(alias))
    return df.select(*cols)


def create_distinct_view(
    spark: SparkSession,
    source: LakeTable,
    root: str,
    group_cols: list[str],
    col: str,
    alias: str,
    n_buckets: int = 4,
) -> LakeTable:
    """EXACT COUNT(DISTINCT col) per group, maintainable under deletes.

    COUNT DISTINCT is not self-maintainable from signed deltas alone: a
    delete of value v only lowers the count if it removed v's LAST
    occurrence, which the delta cannot tell. The standard exact
    construction (Gupta/Mumick '93 — aggregate over an auxiliary view)
    stores the VALUE MULTISET instead: a counting-maintained view
    grouped by (group_cols + [col]) whose single count is the
    multiplicity of each (group, value) pair. Multiplicities ARE
    self-maintainable (pure signed sums — refresh_agg_view unchanged),
    and the machinery's own liveness tombstoning retires a value row
    exactly when its multiplicity hits zero, so the distinct count is a
    read-time rollup over live value rows. Exact under any
    insert/update/delete history — no recompute path exists to take.

    Cost shape — be honest about the multiset's size: state =
    O(distinct (group, value)) rows, and a refresh reads the TOUCHED
    VIEW BUCKETS' state (the same seam as every agg view). For a
    high-cardinality distinct column with uniformly-spread changes,
    every bucket is touched and the refresh approaches O(state)
    (measured: BENCH/BASELINE.md "Distinct-view maintenance") — still
    column-pruned and never the base table, but not O(changes). The
    exact view is the right tool when the distinct column is
    low-cardinality (small state), changes are key-concentrated
    (bucket pruning bites), or exactness under deletes is
    non-negotiable; for high-cardinality
    distinct at scale, the approx_distinct kind (O(1) sketch per
    group, insert windows O(changes)) is the design-scale path.

    Reference analog: the reference's unique-index dedup accounting
    (mongodb_storage.py:422-431) is a distinct-count over the key
    column recomputed per poll; this maintains it incrementally."""
    view = create_agg_view(
        spark, source, root, [*group_cols, col],
        [("count", None, "__mult")], n_buckets)
    spec = _load_spec(view)
    spec["aggs"] = [list(a) for a in spec["aggs"]]
    spec["distinct"] = {"col": col, "alias": alias,
                        "group_cols": list(group_cols)}
    with open(os.path.join(root, _SPEC_FILE), "w") as f:
        json.dump(spec, f)
    return view


def read_distinct_view(view: LakeTable) -> DataFrame:
    """The maintained exact distinct count: (group_cols..., alias).
    NULL values don't count (SQL COUNT DISTINCT semantics) but a group
    whose rows are all-NULL still appears, with count 0 — its NULL
    value row keeps the group alive in the multiset."""
    spec = _load_spec(view)
    d = spec.get("distinct")
    if d is None:
        raise ValueError("not a distinct view — use read_agg_view")
    df = view.read()
    return (
        df.groupBy(*[F.col(c) for c in d["group_cols"]])
        .agg(F.count(F.when(F.col(d["col"]).isNotNull(), F.lit(1)))
             .alias(d["alias"]))
    )
