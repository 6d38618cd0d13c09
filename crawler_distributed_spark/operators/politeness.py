"""Politeness scheduling: per-host quota with skew salting.

North-rule prescription: per-host politeness buckets as salted pandas
group processing over host-keyed partitions. Reference semantics: at most
``quota_per_host`` in-flight requests per domain
(CONCURRENT_REQUESTS_PER_DOMAIN=4, settings.py:46-48; the spider yields
next URLs only while len(currently_crawling) < quota,
domain_spider.py:538-548), here discretized to "at most q scheduled
fetches per (crawl, host) per micro-batch".

Two-phase exact top-q under salting (SURVEY.md §7 risk #3):

  phase 1: repartition by (crawl_id, host, salt) where
           salt = xxhash64(url_norm) % S, then one pandas pass per
           PARTITION (mapInPandas) takes each salt-group's local top-q.
           This is the vectorized form of groupBy.applyInPandas — same
           host-keyed salted grouping, but one Arrow exchange per
           partition instead of one python call per group, which matters
           when there are 10^5+ (host, salt) groups per batch. The union
           of S local top-q sets provably contains the global top-q,
           while no single task ever sees a hot host's full frontier.
  phase 2: window over (crawl_id, host) → row_number ≤ q on the ≤ S·q
           survivors per host (tiny), giving the exact host-level top-q.

Then a window over crawl_id stamps ``seq_in_batch`` and applies the
crawl's page budget. Both windows share one hash(crawl_id) exchange; the
per-crawl window stays small because domain scoping bounds the hosts per
crawl and phase 2 bounds the rows per host (see select_fetch_batch).

Order key everywhere: (depth ASC, priority_score DESC, discovery_seq ASC)
— total, data-defined, parallelism-independent.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..policy import CrawlPolicy

_SORT_COLS = ["depth", "priority_score", "discovery_seq"]
_SORT_ASC = [True, False, True]


def _salt_local_topq(quota: int):
    """Running top-q per (crawl, host, salt) group across the partition's
    Arrow batches — memory stays O(groups·q + one batch), never the whole
    partition, so a hot host's salt slice can exceed executor memory."""

    def take(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: pd.DataFrame | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            pool = pdf if acc is None else pd.concat([acc, pdf], ignore_index=True)
            acc = (
                pool.sort_values(_SORT_COLS, ascending=_SORT_ASC, kind="mergesort")
                .groupby(["crawl_id", "host", "_salt"], sort=False, observed=True)
                .head(quota)
            )
        if acc is not None and len(acc):
            yield acc

    return take


def select_fetch_batch(
    eligible: DataFrame,
    budgets: DataFrame,
    policy: CrawlPolicy,
    n_eligible: int | None = None,
    host_quotas: DataFrame | None = None,
) -> DataFrame:
    """Pick this batch's fetch set from eligible frontier rows.

    ``budgets``: (crawl_id, remaining) — max_pages minus pages crawled so
    far; always small (one row per crawl), broadcast.

    ``n_eligible``: if the caller already knows the eligible row count and
    it is below ``policy.salt_threshold``, the salted phase-1 pre-filter
    is skipped — its only purpose is bounding per-task work under hot-host
    skew, which cannot bite on a small batch; the window in phase 2 is the
    exact operator either way.

    Precondition: each crawl has few hosts. ``seq_in_batch`` is a
    row_number over the crawl's phase-2 survivors, whose count is at most
    hosts-per-crawl × quota; the loop's domain scoping (F4: the two
    allowed hosts, plus at most the seed's host) keeps that at a few
    quota's worth of rows per crawl at any frontier size.

    Returns the scheduled rows with ``seq_in_batch`` (per-crawl trace
    order, 1-based).
    """
    n_part = int(eligible.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if n_eligible is not None and n_eligible < policy.salt_threshold:
        phase1 = eligible
    else:
        salted = eligible.withColumn(
            "_salt", F.pmod(F.xxhash64("url_norm"), F.lit(policy.n_salts))
        )
        phase1 = (
            salted.repartition(n_part, "crawl_id", "host", "_salt")
            .mapInPandas(_salt_local_topq(policy.quota_per_host), schema=salted.schema)
            .drop("_salt")
        )

    # ONE exchange for both windows (guide §2.4): hash(crawl_id) satisfies
    # the clustering requirement of the (crawl_id, host) quota window AND
    # of the per-crawl seq_in_batch window (a hash partitioning on a
    # SUBSET of the window keys clusters them).
    phase1 = phase1.repartition(n_part, "crawl_id")
    order = (F.col("depth").asc(), F.col("priority_score").desc(), F.col("discovery_seq").asc())
    host_w = Window.partitionBy("crawl_id", "host").orderBy(*order)
    ranked = phase1.withColumn("_rn", F.row_number().over(host_w))
    if host_quotas is not None:
        # P2 autothrottle analog: per-host quota (≤ default) from the EWMA
        # latency state; phase 1's default-quota pre-filter stays a superset
        ranked = ranked.join(F.broadcast(host_quotas), "host", "left")
        quota_col = F.coalesce(F.col("quota_h"), F.lit(policy.quota_per_host))
        phase2 = ranked.where(F.col("_rn") <= quota_col).drop("_rn", "quota_h")
    else:
        phase2 = ranked.where(F.col("_rn") <= policy.quota_per_host).drop("_rn")

    # seq_in_batch stamp + per-crawl budget cap (VERDICT r2 #1)
    crawl_w = Window.partitionBy("crawl_id").orderBy(*order)
    budgeted = phase2.join(F.broadcast(budgets), "crawl_id")
    return (
        budgeted.withColumn("seq_in_batch", F.row_number().over(crawl_w))
        .where(F.col("seq_in_batch") <= F.col("remaining"))
        .drop("remaining")
    )
