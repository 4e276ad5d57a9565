"""Schema-evolution tests (SURVEY.md §5 test 3): add / rename / widen
driven by the registry, applied mid-stream, with old files still
readable by field-id after rename and widen."""

from __future__ import annotations

import pytest

from clinical_trials_etl_spark.cdc import registry as reg
from clinical_trials_etl_spark.cdc.apply import apply_batch
from clinical_trials_etl_spark.cdc.replay import create_pages_table

COLS = (
    "lsn long, op string, url string, warc_ts timestamp, html binary, "
    "lang string, language string, fetch_status long, schema_ver int"
)


def test_diff_detects_add_rename_widen():
    ops = reg.diff(reg.PAGES_REGISTRY[1], reg.PAGES_REGISTRY[4])
    kinds = {o["op"] for o in ops}
    assert kinds == {"add", "rename"}  # widen folded into the add of v4 type
    ops23 = reg.diff(reg.PAGES_REGISTRY[2], reg.PAGES_REGISTRY[3])
    assert ops23 == [{"op": "rename", "id": 5, "from": "lang", "to": "language"}]
    ops34 = reg.diff(reg.PAGES_REGISTRY[3], reg.PAGES_REGISTRY[4])
    assert ops34 == [
        {"op": "widen", "id": 6, "name": "fetch_status", "from": "int", "to": "long"}
    ]


def test_diff_rejects_narrow_and_drop():
    with pytest.raises(ValueError):
        reg.diff(
            [{"id": 1, "name": "a", "type": "long"}],
            [{"id": 1, "name": "a", "type": "int"}],
        )
    with pytest.raises(ValueError):
        reg.diff(
            [{"id": 1, "name": "a", "type": "int"},
             {"id": 2, "name": "b", "type": "int"}],
            [{"id": 1, "name": "a", "type": "int"}],
        )


def test_pre_upgrade_snapshot_infers_registry_version(spark, tmp_path):
    """A snapshot written before ``registry_ver`` stamping existed must
    NOT default to version 1 (VERDICT r2 item 4): a late old-schema
    batch would then pass the monotonic guard and re-apply a backwards
    rename. registry_version() infers the version from the snapshot's
    field list instead."""
    table = create_pages_table(spark, str(tmp_path / "tbl"), n_buckets=2)
    b1 = spark.createDataFrame(
        [(1, "I", "u1", None, b"<p>one</p>", None, "fr", 200, 3)], COLS
    )
    apply_batch(table, b1, "b1")  # table evolves to v3 (rename applied)
    assert table.registry_version() == 3

    # simulate a pre-upgrade snapshot: strip the registry_ver stamp
    snap = table.snapshot()
    snap["version"] += 1
    snap["parent"] = snap["version"] - 1
    snap["schema"] = {k: v for k, v in snap["schema"].items()
                      if k != "registry_ver"}
    table._write_snapshot(snap)
    assert "registry_ver" not in table.snapshot()["schema"]
    assert table.registry_version() == 3  # inferred, not defaulted to 1

    # late v1-shaped batch: must fold into the evolved schema — no
    # backwards rename (language stays), no crash
    late = spark.createDataFrame(
        [(2, "I", "u2", None, b"<p>late</p>", "en", None, None, 1)], COLS
    )
    apply_batch(table, late, "b2")
    names = {f["name"] for f in table.fields()}
    assert "language" in names and "lang" not in names
    rows = {r["url"]: r for r in table.read().collect()}
    assert rows["u2"]["language"] == "en"
    assert rows["u1"]["language"] == "fr"


def test_mid_stream_evolution_preserves_old_rows(spark, tmp_path):
    """v1 batch, then v3 batch (rename), then v4 batch (widen): rows
    written under the old schema must read back under the new names and
    types without a rewrite."""
    table = create_pages_table(spark, str(tmp_path / "tbl"), n_buckets=4)

    b1 = spark.createDataFrame(
        [(1, "I", "u1", None, b"<p>one</p>", "en", None, None, 1)], COLS
    )
    apply_batch(table, b1, "b1")
    assert {f["name"] for f in table.fields()} == {
        "url", "warc_ts", "html", "text", "lang"
    }

    b2 = spark.createDataFrame(
        [(2, "I", "u2", None, b"<p>two</p>", None, "fr", 200, 3)], COLS
    )
    apply_batch(table, b2, "b2")
    names = {f["name"]: f["type"] for f in table.fields()}
    assert "language" in names and "lang" not in names
    assert names["fetch_status"] == "int"

    b3 = spark.createDataFrame(
        [(3, "I", "u3", None, b"<p>three</p>", None, "de", 5_000_000_000, 4)],
        COLS,
    )
    apply_batch(table, b3, "b3")
    names = {f["name"]: f["type"] for f in table.fields()}
    assert names["fetch_status"] == "long"

    rows = {r["url"]: r for r in table.read().collect()}
    assert rows["u1"]["language"] == "en"  # written as 'lang', read by field-id
    assert rows["u1"]["fetch_status"] is None  # pre-add rows -> null
    assert rows["u2"]["language"] == "fr" and rows["u2"]["fetch_status"] == 200
    assert rows["u3"]["fetch_status"] == 5_000_000_000
    assert rows["u3"]["text"] == "three"

    # files written before the widen are still on disk (no rewrite of
    # untouched buckets) unless their bucket was touched again
    sigs = {tuple(sorted(f["phys"].items())) for f in table.files()}
    assert len(sigs) >= 1
