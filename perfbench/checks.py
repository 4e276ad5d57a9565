"""Correctness gate: every answer the lake gives is compared with the
package's independent reference fold (``datagen.reference_fold``),
and every text with the generator's own expected text
(``datagen.changelog.expected_page_text``). Runs outside the timed
spans; each check is one operation in the run's attempted/failed count.
"""

from __future__ import annotations

from clinical_trials_etl_spark.datagen.changelog import (
    changelog_df,
    expected_page_text,
)
from clinical_trials_etl_spark.datagen.reference_fold import fold_changelog

# the table's columns a check compares (v4 naming)
COMPARED = ("warc_ts", "html", "text", "language", "fetch_status")


def log_rows(spark, spec) -> list[dict]:
    """The log's transport rows (duplicate deliveries included), each
    with ``exp_text``: the text the generator says its html holds."""
    _html, text = expected_page_text(spec)
    df = changelog_df(spark, spec).withColumn("exp_text", text)
    return [r.asDict() for r in df.collect()]


def _image(r: dict) -> dict:
    html = r["html"]
    return {"warc_ts": r["warc_ts"],
            "html": bytes(html) if html is not None else None,
            "text": r["exp_text"],
            "language": r.get("language") or r.get("lang"),
            "fetch_status": r.get("fetch_status")}


class FoldTimeline:
    """Expected table state, advanced one log segment at a time by the
    reference fold's rules (events in lsn order, duplicate deliveries
    collapse, last write wins, delete removes). Segments cover
    contiguous lsn ranges, so advancing segment by segment equals
    folding the whole prefix; ``verify_against_reference`` proves that
    on the final state with the reference fold itself."""

    def __init__(self):
        self.state: dict[str, dict] = {}
        self.rows: list[dict] = []
        self.lsn_hi: list[int] = []    # max lsn after each advance
        self.states: list[dict] = []   # state after each advance

    def advance(self, rows: list[dict]) -> dict:
        by_lsn: dict[int, dict] = {}
        for r in rows:
            by_lsn.setdefault(r["lsn"], r)
        for lsn in sorted(by_lsn):
            r = by_lsn[lsn]
            if r["op"] == "D":
                self.state.pop(r["url"], None)
            else:
                self.state[r["url"]] = _image(r)
        self.rows.extend(rows)
        self.lsn_hi.append(max(by_lsn))
        self.states.append(dict(self.state))
        return self.state

    def state_at_lsn(self, lsn_hi: int) -> dict:
        """State after the advance whose last lsn is ``lsn_hi``."""
        return self.states[self.lsn_hi.index(lsn_hi)]

    def verify_against_reference(self) -> int:
        """Mismatches between this timeline's final state and
        ``fold_changelog`` over every row it consumed; the reference
        extracts text with the package kernel, so this also holds the
        kernel to the generator's expected text."""
        return state_mismatches(fold_changelog(self.rows), self.state)


def split_segments(rows: list[dict], spec, n_segments: int) -> list[list]:
    """Rows per segment, by write_changelog_segments' assignment."""
    out: list[list] = [[] for _ in range(n_segments)]
    for r in rows:
        seg = (r["lsn"] - spec.lsn_offset) * n_segments // spec.n_events
        out[min(n_segments - 1, seg)].append(r)
    return out


def _norm(row: dict) -> dict:
    out = {k: row.get(k) for k in COMPARED}
    if out["html"] is not None:
        out["html"] = bytes(out["html"])
    if out["fetch_status"] is not None:
        out["fetch_status"] = int(out["fetch_status"])
    return out


def state_mismatches(got: dict[str, dict], exp: dict[str, dict]) -> int:
    """Keys missing, extra, or with any compared column different."""
    bad = len(got.keys() ^ exp.keys())
    for url in got.keys() & exp.keys():
        if _norm(got[url]) != _norm(exp[url]):
            bad += 1
    return bad


def table_state(df_rows) -> dict[str, dict]:
    return {r["url"]: r.asDict() for r in df_rows}


def lookup_ok(rows, url: str, exp: dict[str, dict]) -> bool:
    if url not in exp:
        return len(rows) == 0
    return len(rows) == 1 and _norm(rows[0].asDict()) == _norm(exp[url])


def scan_expected(exp: dict[str, dict]) -> dict:
    """language -> (rows, sum of fetch_status), the scan's answer."""
    out: dict = {}
    for r in exp.values():
        n, s = out.get(r["language"], (0, None))
        fs = r["fetch_status"]
        if fs is not None:
            s = (s or 0) + int(fs)
        out[r["language"]] = (n + 1, s)
    return out


def feed_ok(rows, before: dict[str, dict], after: dict[str, dict]) -> bool:
    """Applying the net change feed to the window's start state must
    give its end state."""
    state = dict(before)
    for r in rows:
        d = r.asDict()
        if d["_change_type"] == "delete":
            state.pop(d["url"], None)
        else:
            state[d["url"]] = d
    return state_mismatches(state, after) == 0
