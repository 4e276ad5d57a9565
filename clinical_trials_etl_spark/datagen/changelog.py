"""Deterministic synthetic change-log + pages generators (FIXTURES.md §1-2).

Everything is generated *distributed* with Spark column expressions from
``spark.range`` — a pure function of (seed, size): no driver-side loops,
no RNG state, so the same (seed, n) produces the same log on 1 core or
1000 executors. Pseudo-randomness comes from xxhash64 over (seed, lsn,
tag) — reproducible on any partitioning.

Log transport schema (union-of-versions, Debezium-style: fields absent
from a record's schema_ver are null; the Avro-registry in cdc/registry.py
says how to interpret each version):

    lsn long, op string(I/U/D), url string, warc_ts timestamp,
    html binary, lang string, language string, fetch_status long,
    schema_ver int

Knobs (all seeded): insert/update/delete mix, duplicate-delivery rate
(exactly-once exercise), out-of-order fraction + max lag (late-event
exercise), host-skew exponent (hot-host exercise), schema version ramp
(evolution exercise: v2 adds fetch_status int, v3 renames
lang->language, v4 widens fetch_status int->long).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

BASE_TS = "2024-01-01 00:00:00"

LANGS = ["en", "de", "fr", "es", "it", "nl", "pl", "pt"]

# html fragment pools — exercise the extractor features the reference
# handles (FIXTURES.md §1): bolder label/value, tables w/ ragged rows,
# lists, unicode punctuation, whitespace runs
_TITLE_WORDS = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "zeta"]
_BODY_WORDS = [
    "stream", "merge", "page", "crawl", "index", "fetch", "parse",
    "token", "shard", "batch", "offset", "snapshot", "lineage", "schema",
]


def _u(seed: int, tag: int, *cols) -> Column:
    """Deterministic uniform double in [0, 1)."""
    return (
        F.pmod(F.xxhash64(F.lit(seed), F.lit(tag), *cols), F.lit(1_000_003))
        / 1_000_003.0
    )


def _pick(words: list[str], idx: Column) -> Column:
    return F.element_at(F.array(*[F.lit(w) for w in words]), (idx % len(words)) + 1)


@dataclass
class LogSpec:
    n_events: int = 10_000
    n_hosts: int = 50
    paths_per_host: int = 200
    seed: int = 42
    p_insert: float = 0.55
    p_update: float = 0.35  # remainder is delete
    dup_rate: float = 0.05
    ooo_frac: float = 0.15
    max_lag_s: int = 3600
    skew_exp: float = 3.0  # host_id = floor(n_hosts * u^skew_exp): hot host 0
    n_schema_versions: int = 4
    # extra tag-dense body content per page: each block is ~25 B of
    # "<p>word word</p>". Real Common-Crawl pages are tens of KB of
    # markup; default pages are ~300 B, which under-weights the
    # extraction kernel in benchmarks. 80 blocks ~ 2 KB of body HTML.
    html_pad_blocks: int = 0
    # first LSN of this log. A log meant to be applied AFTER another
    # one (e.g. perfbench drip_read's update drip over its base load)
    # must start past the earlier log's LSN space, or the per-key
    # max-LSN guard rejects its events as stale.
    lsn_offset: int = 0


def _html_and_text(spec: LogSpec, lsn: Column, url: Column):
    """Build the page html AND, independently, the exact text the
    reference chain extracts from it — so tests can assert kernel(html)
    == expected without the kernel defining its own truth."""
    w1 = _pick(_TITLE_WORDS, F.pmod(F.xxhash64(F.lit(spec.seed), F.lit(10), lsn), 10_000).cast("int"))
    w2 = _pick(_BODY_WORDS, F.pmod(F.xxhash64(F.lit(spec.seed), F.lit(11), lsn), 10_000).cast("int"))
    w3 = _pick(_BODY_WORDS, F.pmod(F.xxhash64(F.lit(spec.seed), F.lit(12), lsn), 10_000).cast("int"))
    n = F.pmod(F.xxhash64(F.lit(spec.seed), F.lit(13), lsn), F.lit(4))

    title = F.concat(w1, F.lit(" "), w2)
    # variant 0: plain; 1: unicode punctuation; 2: table; 3: list
    body_html = (
        F.when(n == 0, F.concat(F.lit("<p>"), w2, F.lit("  \n "), w3, F.lit("</p>")))
        .when(
            n == 1,
            F.concat(F.lit("<p>"), w2, F.lit(" – “"), w3, F.lit("” – ’s</p>")),
        )
        .when(
            n == 2,
            F.concat(
                F.lit("<table><thead><tr><th>K</th><th>V</th></tr></thead><tbody><tr><td>"),
                w2,
                F.lit("</td><td>"),
                w3,
                F.lit("</td></tr><tr><td>ragged</td></tr></tbody></table>"),
            ),
        )
        .otherwise(
            F.concat(F.lit("<ul><li>"), w2, F.lit("</li><li>"), w3, F.lit("</li></ul>"))
        )
    )
    body_text = (
        F.when(n == 0, F.concat(w2, F.lit(" "), w3))
        .when(n == 1, F.concat(w2, F.lit(" - \""), w3, F.lit("\" - 's")))
        .when(n == 2, F.concat(F.lit("KV"), w2, w3, F.lit("ragged")))
        .otherwise(F.concat(w2, w3))
    )
    if spec.html_pad_blocks > 0:
        # tag-dense padding with exact text contribution: text nodes
        # concatenate with no separator, so N repeated blocks contribute
        # N repeats of the block text
        pad_html = F.repeat(
            F.concat(F.lit("<p>"), w2, F.lit(" "), w3, F.lit("</p>")),
            spec.html_pad_blocks,
        )
        pad_text = F.repeat(
            F.concat(w2, F.lit(" "), w3), spec.html_pad_blocks
        )
    else:
        pad_html = F.lit("")
        pad_text = F.lit("")
    html = F.concat(
        F.lit("<html><head><title>"),
        title,
        F.lit("</title></head><body><div id='summary'><p class='bolder'>Url:</p><p>"),
        url,
        F.lit("</p></div>"),
        body_html,
        pad_html,
        F.lit("</body></html>"),
    )
    # reference chain: all text nodes concatenated, \s+ collapsed, strip,
    # unicode replacements
    text = F.concat(title, F.lit("Url:"), url, body_text, pad_text)
    return html.cast("binary"), text


def changelog_df(spark: SparkSession, spec: LogSpec) -> DataFrame:
    """The full change log as a DataFrame (lsn-ordered rows, including
    duplicate deliveries appended with identical payloads)."""
    base = spark.range(
        spec.lsn_offset, spec.lsn_offset + spec.n_events
    ).withColumnRenamed("id", "lsn")
    lsn = F.col("lsn")

    host = F.floor(spec.n_hosts * F.pow(_u(spec.seed, 1, lsn), spec.skew_exp))
    path = F.floor(spec.paths_per_host * _u(spec.seed, 2, lsn))
    url = F.concat(
        F.lit("https://host"),
        host.cast("string"),
        F.lit(".example.com/page/"),
        path.cast("string"),
    )

    u_op = _u(spec.seed, 3, lsn)
    op = (
        F.when(u_op < spec.p_insert, "I")
        .when(u_op < spec.p_insert + spec.p_update, "U")
        .otherwise("D")
    )

    lag = F.when(
        _u(spec.seed, 4, lsn) < spec.ooo_frac,
        F.floor(_u(spec.seed, 5, lsn) * spec.max_lag_s),
    ).otherwise(F.lit(0))
    warc_ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit(BASE_TS).cast("timestamp")) + lsn - lag
    )

    # schema version ramps over the log (evolution happens mid-stream)
    ver = F.least(
        F.lit(spec.n_schema_versions),
        (lsn * spec.n_schema_versions / spec.n_events).cast("int") + 1,
    )

    html, _text = _html_and_text(spec, lsn, url)
    lang = _pick(LANGS, F.pmod(F.xxhash64(F.lit(spec.seed), F.lit(6), url), 10_000).cast("int"))
    fetch_status = F.when(
        _u(spec.seed, 7, lsn) < 0.9, F.lit(200).cast("long")
    ).otherwise(F.lit(404).cast("long"))

    is_delete = op == "D"
    df = base.select(
        lsn,
        op.alias("op"),
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        F.when(~is_delete, html).alias("html"),
        F.when(~is_delete & (ver < 3), lang).alias("lang"),
        F.when(~is_delete & (ver >= 3), lang).alias("language"),
        F.when(~is_delete & (ver >= 2), fetch_status).alias("fetch_status"),
        ver.alias("schema_ver"),
    )

    # duplicate deliveries: re-emit a deterministic subset verbatim
    dups = df.filter(_u(spec.seed, 8, F.col("lsn")) < spec.dup_rate)
    return df.unionAll(dups)


def write_changelog_segments(
    spark: SparkSession,
    spec: LogSpec,
    out_dir: str,
    n_segments: int = 8,
    files_per_segment: int = 8,
) -> str:
    """Write the log as ordered parquet segment files (the WAL dir a
    streaming source tails). Segment = contiguous lsn range, so file
    arrival order ~ lsn order, but late events inside stay out of order.

    Each segment is split into ``files_per_segment`` files so a
    micro-batch scan has file-level parallelism (a single-file segment
    would make the whole pre-shuffle stage one task).

    File mtimes are stamped in segment order after the write: Spark's
    file streaming source orders arrival by modification time, and a
    WAL's segments arrive in append order — without the stamp all files
    share the write job's completion time and the source would tail
    them in arbitrary order, breaking the bounded-lateness contract
    watermarked consumers rely on (lateness would become O(log span)
    instead of O(segment span + max_lag))."""
    df = changelog_df(spark, spec)
    seg = (
        (F.col("lsn") - spec.lsn_offset) * n_segments / spec.n_events
    ).cast("int")
    (
        df.withColumn("segment", F.least(F.lit(n_segments - 1), seg))
        .repartition(
            n_segments * files_per_segment,
            F.col("segment"),
            F.pmod(F.col("lsn"), F.lit(files_per_segment)),
        )
        .sortWithinPartitions("lsn")
        .write.mode("overwrite")
        .partitionBy("segment")
        .parquet(out_dir)
    )
    base = time.time() - 2 * n_segments
    for i in range(n_segments):
        seg_dir = os.path.join(out_dir, f"segment={i}")
        if not os.path.isdir(seg_dir):
            continue
        for fn in os.listdir(seg_dir):
            os.utime(os.path.join(seg_dir, fn), (base + 2 * i, base + 2 * i))
    return out_dir


def expected_page_text(spec: LogSpec) -> tuple:
    """(html, expected_text) column pair for kernel byte-identity tests."""
    lsn = F.col("lsn")
    url = F.col("url")
    return _html_and_text(spec, lsn, url)
