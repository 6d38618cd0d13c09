"""Outlink admission pipeline: filters → canonicalize → dedup → seen → robots.

The reference re-checks extension/scope filters at four different points
(enqueue, pre-request, on-response, parse — SURVEY.md §2.2); here the whole
admission runs exactly once per discovered link, as one declarative plan:

  candidates(raw href, parent_seq, link_idx)
    → F3 valid / F5 deny / F1+F2 extension+media / F4 scope   [Column exprs, codegen]
    → C1 canonicalize (pandas UDF, vectorized fast path)
    → C3 order-stable batch dedup (first occurrence by (parent_seq, link_idx))
    → C4 unseen (left_anti vs url_seen on (crawl_id, url_norm))
    → P3 robots gating (broadcast longest-prefix-match join)

Scale notes: the filter conjunction is evaluated before the canonicalize
UDF, so the Arrow exchange only sees survivors. The seen anti-join keys on
(crawl_id, url_norm); the compacted seen copy is a BUCKETED table
hash-clustered on exactly those keys (storage.compact_seen), so at 10^10
the big side scans in place with no exchange — only the O(batch) probe
(already cut by the bloom prefilter, seen_filter.py) and the O(recent)
delta side move. Robots rules are a per-host dimension table, always
broadcast.
"""

from __future__ import annotations

from dataclasses import asdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.urls import (
    canonicalize_udf,
    denied_col,
    host_col,
    media_url_col,
    skipped_extension_col,
    valid_url_col,
)
from .seen_filter import BloomGeometry, bloom_split


def filter_candidates(candidates: DataFrame) -> DataFrame:
    """Apply F1-F5 to raw hrefs. Expects columns: crawl_id, raw_url,
    allowed_host_1, allowed_host_2, parent_seq, link_idx, depth.

    Fused form of (valid ∧ ¬deny ∧ ¬skipped-ext ∧ ¬media ∧ in-scope):
    the lowercased URL and the lowercased path are computed once in a
    projection and every predicate runs against them case-sensitively —
    this stage sees every discovered href (~10^8/batch at scale), so
    regex-pass count is the budget. Semantics identical to the per-filter
    Column functions (tested against the pure-Python filters)."""
    from ..functions.urls import _EXT_ALTERNATION, DENY_PATTERNS, MEDIA_EXTENSIONS

    media_alt = "|".join(sorted(e.lstrip(".") for e in MEDIA_EXTENSIONS))
    lower_url = F.lower(F.col("raw_url"))
    path = F.regexp_replace(
        F.regexp_replace(lower_url, r"^[a-z][a-z0-9+.-]*://[^/]*", ""), r"[?#].*$", ""
    )
    host = F.regexp_replace(
        F.regexp_extract(
            F.regexp_replace(lower_url, r"^[a-z][a-z0-9+.-]*://", ""), r"^([^/?#]*)", 1
        ),
        r":(80|443)$",
        "",
    )
    staged = candidates.select(
        "*", lower_url.alias("_lu"), path.alias("_path"), host.alias("_host")
    )
    lu, pth, hst = F.col("_lu"), F.col("_path"), F.col("_host")
    valid = F.col("raw_url").rlike(
        r"^(https?|ftp)://"
        r"([a-zA-Z0-9]([a-zA-Z0-9-]*[a-zA-Z0-9])?\.)+"
        r"[a-zA-Z0-9]([a-zA-Z0-9-]*[a-zA-Z0-9])?"
        r"(/[^/\s]*)*$"
    )
    deny = lu.rlike("|".join(DENY_PATTERNS))
    ext_hit = lu.rlike(r"\.(" + _EXT_ALTERNATION + r")(\?.*)?$") | (
        (F.length(pth) > 0)
        & ~pth.endswith("/")
        & pth.rlike(r"\.(" + _EXT_ALTERNATION + r")$")
    )
    media_hit = pth.rlike(r"\.(" + media_alt + r")$") | lu.rlike(
        r"[?&](download|dl|file)=[^&#]"
    )
    in_scope = (hst == F.col("allowed_host_1")) | (hst == F.col("allowed_host_2"))
    content_ok = valid & ~deny & ~ext_hit & ~media_hit
    if "is_control" in candidates.columns:
        # control URLs (robots-discovered sitemaps) bypass the content
        # filters — the reference fetches located sitemaps directly
        # (sitemap_utils.py:65-121) — but remain scope-gated
        content_ok = F.col("is_control") | content_ok
    return (
        staged.where(in_scope & content_ok)
        .drop("_lu", "_path", "_host")
    )


def canonicalize_candidates(
    filtered: DataFrame, n_rows_hint: int | None = None
) -> DataFrame:
    """C1 over the filter survivors. Explicitly hash-respread first: the
    canonicalize UDF is CPU-bound Python, and AQE coalesces the upstream
    explode/filter output by BYTES (a few MB of URL strings → 1-2
    partitions), which would serialize the Arrow stage — the same
    countermeasure the fetch stage takes (operators/fetch.py:56).
    ``n_rows_hint`` (an upper bound on the candidate count) caps the
    partition count at ~1k rows/task so thin batches skip the empty-task
    overhead; per-row-pure values, so the split never affects output."""
    n_part = int(filtered.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if n_rows_hint is not None:
        n_part = max(1, min(n_part, -(-int(n_rows_hint) // 1024)))
    filtered = filtered.repartition(n_part, "crawl_id", "raw_url")
    return filtered.withColumn("url_norm", canonicalize_udf("raw_url")).withColumn(
        "host", host_col(F.col("url_norm"))
    )


def dedup_in_batch(canon: DataFrame) -> DataFrame:
    """C3: first-occurrence-wins per (crawl_id, url_norm), order defined by
    (parent_seq, link_idx) — the reference's order-preserving dedup
    (lib/utils/url_utils.py:459-480) expressed as a keyed min-select.

    Implemented as groupBy + min_by struct (partial aggregation map-side)
    rather than a window, so it shuffles each key once and never sorts.

    The grouping key is exactly (crawl_id, url_norm) — the keys of the
    downstream seen anti-join. ``host`` is a pure function of url_norm
    and the allowed-host pair is constant per crawl_id, so carrying them
    in the min_by payload instead of the key changes nothing — but it
    lets Spark REUSE this aggregation's hashpartitioning for the
    anti-join (guide §2.4: two operations keyed the same way share one
    exchange), removing one full shuffle of the deduped batch."""
    has_prio = "priority_score" in canon.columns
    payload = ["parent_seq", "link_idx", "depth", "raw_url", "host"] + (
        ["priority_score"] if has_prio else []
    )
    winner = F.min_by(
        F.struct(*payload), F.struct("parent_seq", "link_idx")
    ).alias("w")
    out = [
        "crawl_id",
        "url_norm",
        F.col("w.host").alias("host"),
        F.col("w.parent_seq").alias("parent_seq"),
        F.col("w.link_idx").alias("link_idx"),
        F.col("w.depth").alias("depth"),
        F.col("w.raw_url").alias("url"),
    ]
    if has_prio:
        out.append(F.col("w.priority_score").alias("priority_score"))
    return (
        canon.groupBy("crawl_id", "url_norm")
        .agg(winner)
        .select(*out)
    )


def _anti_seen(probe: DataFrame, url_seen) -> DataFrame:
    """The exact seen anti-join. ``url_seen`` is either one DataFrame
    (legacy / tests) or a storage.SeenParts:

    - vs ``compacted`` (the 10^10-row side at scale): the compacted copy
      is a bucketed-table read hash-clustered + sorted on exactly the
      join keys, so this anti-join plans with NO exchange and no full
      sort on the seen side — only the O(batch) probe shuffles
      (SURVEY.md §4 physical-plan choice #1).
    - vs ``deltas`` (O(recent batches) rows): a second anti-join; the
      probe side already carries hashpartitioning(crawl_id, url_norm)
      from the first join, so only the small delta side moves (AQE
      broadcasts it outright when it fits).
    """
    from ..storage import SeenParts

    if isinstance(url_seen, SeenParts):
        out = probe
        if url_seen.compacted is not None:
            out = out.join(
                url_seen.compacted.select("crawl_id", "url_norm"),
                on=["crawl_id", "url_norm"],
                how="left_anti",
            )
        if url_seen.deltas is not None:
            out = out.join(
                url_seen.deltas.select("crawl_id", "url_norm"),
                on=["crawl_id", "url_norm"],
                how="left_anti",
            )
        return out
    return probe.join(
        url_seen.select("crawl_id", "url_norm"),
        on=["crawl_id", "url_norm"],
        how="left_anti",
    )


def filter_unseen(
    deduped: DataFrame, url_seen, bloom: DataFrame | None = None,
    geometry: BloomGeometry = BloomGeometry(),
) -> DataFrame:
    """C4: drop URLs already in the seen set.

    With a bloom table (operators/seen_filter.py): bloom misses are
    provably novel and bypass the join entirely; only bloom hits (true
    seen + false positives) go through the exact anti-join. Without one:
    plain anti-join. ``url_seen``: DataFrame or storage.SeenParts (see
    _anti_seen for the at-scale plan shape). ``geometry``: the layout
    the bloom was built with."""
    if bloom is not None:
        # Materialize the tagged batch ONCE: the novel/maybe union consumes
        # it twice, and Catalyst otherwise re-evaluates the whole upstream
        # filter → canonicalize (Python) → dedup pipeline per branch — the
        # before-plan carried two full copies of the admission subtree, one
        # with the canonicalize UDF additionally duplicated around a pushed
        # join-key filter (guide §4.4). The lazy localCheckpoint costs one
        # O(batch) cache write and cuts the candidate pipeline to a single
        # evaluation; values are per-row pure, so output is unchanged.
        tagged = bloom_split(deduped, bloom, **asdict(geometry)).localCheckpoint(eager=False)
        novel = tagged.where(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = tagged.where(F.col("maybe_seen")).drop("maybe_seen")
        return novel.unionByName(_anti_seen(maybe, url_seen))
    return _anti_seen(deduped, url_seen)


def aggregate_robots_rules(robots_rules: DataFrame) -> DataFrame:
    """Pre-aggregate the rules table to one array per host. Loop-invariant:
    compute once per run, cache, and pass to gate_robots every batch."""
    return robots_rules.groupBy(F.col("host").alias("r_host")).agg(
        F.collect_list(F.struct("path_prefix", "allow")).alias("_rules")
    )


def gate_robots(unseen: DataFrame, robots_rules: DataFrame) -> DataFrame:
    """P3: longest-prefix-match against the per-host rules table.

    Returns the input plus a boolean ``robots_ok``; longest matching
    prefix wins, default allow when no rule matches.

    Implementation: rules are pre-aggregated to one array per host (tiny
    dimension), broadcast-joined, and the longest-prefix pick runs as a
    higher-order-function fold over that array — a single broadcast hash
    join with NO shuffle and NO re-aggregation of the candidate side,
    which matters when candidates are 10^8 per batch.

    ``robots_rules`` may be the raw (host, path_prefix, allow) table or
    the pre-aggregated form from aggregate_robots_rules()."""
    path = F.regexp_replace(
        F.regexp_replace(F.col("url_norm"), r"^[a-z]+://[^/]*", ""), r"[?#].*$", ""
    )
    per_host = (
        robots_rules
        if "_rules" in robots_rules.columns
        else aggregate_robots_rules(robots_rules)
    )
    joined = unseen.withColumn("_path", path).join(
        F.broadcast(per_host), F.col("host") == F.col("r_host"), "left"
    )
    best = F.expr(
        """
        aggregate(
          filter(coalesce(_rules, array()), r -> startswith(_path, r.path_prefix)),
          named_struct('len', -1, 'allow', true),
          (acc, r) -> IF(length(r.path_prefix) > acc.len,
                         named_struct('len', length(r.path_prefix), 'allow', r.allow),
                         acc)
        ).allow
        """
    )
    return joined.withColumn("robots_ok", best).drop("_path", "r_host", "_rules")


def admit(
    candidates: DataFrame,
    url_seen,  # DataFrame | storage.SeenParts
    robots_rules: DataFrame,
    bloom: DataFrame | None = None,
    n_rows_hint: int | None = None,
    bloom_geometry: BloomGeometry = BloomGeometry(),
) -> DataFrame:
    """Full admission pipeline. Output columns: crawl_id, url_norm, host,
    parent_seq, link_idx, depth, robots_ok. ``n_rows_hint``: optional
    upper bound on the candidate count (see canonicalize_candidates).
    ``bloom_geometry``: the layout ``bloom`` was built with."""
    filtered = filter_candidates(candidates)
    canon = canonicalize_candidates(filtered, n_rows_hint=n_rows_hint)
    deduped = dedup_in_batch(canon)
    unseen = filter_unseen(deduped, url_seen, bloom, bloom_geometry)
    return gate_robots(unseen, robots_rules)
