"""Crawl policy — the single definition of scheduling semantics.

Both the pure-Python oracle (tests/oracle parity) and the Spark engine
import these constants/functions, so there is exactly one place where the
reference's behavior is encoded:

- per-host politeness quota        ~ CONCURRENT_REQUESTS_PER_DOMAIN=4
                                     (crawler/spider_project/settings.py:46-48)
- retry/backoff discipline         ~ lib/queue/queue_manager.py:405-466
                                     (delay min(cap, base·2^retries), max 3 retries then bury)
- retryable status split           ~ middlewares/retry_middleware.py:33-55
- max_pages stop condition         ~ domain_spider.py:67-70, settings.py:75-76
- BFS ordering key                 ~ FIFO deque (domain_spider.py:157-209) made
                                     deterministic as (depth, -priority_score, discovery_seq)

Deliberate determinism substitutions vs the reference (SURVEY.md §4):
retry jitter dropped, wall-clock recency frozen, the +2 max_pages slack
dropped, random UA irrelevant to scheduling.
"""

from __future__ import annotations

from dataclasses import dataclass

# P8: per-status retry policy (middlewares/retry_middleware.py:33-55):
# status -> (backoff multiplier, max attempts). 403 is retryable with a
# forced strategy escalation in the reference; 404 is terminal.
RETRY_POLICY: dict[int, tuple[float, int]] = {
    500: (1.5, 3),
    502: (1.5, 3),
    504: (1.5, 3),
    503: (2.0, 3),
    408: (1.2, 3),
    429: (3.0, 2),
    403: (2.0, 2),
}

RETRYABLE_STATUSES = frozenset(RETRY_POLICY)
FATAL_STATUSES = frozenset({404})
# L1 redirect class: statuses whose Location target is admitted at the
# SAME depth (base_spider.py redirect handling via Scrapy's
# RedirectMiddleware, which covers the whole 3xx family). The synthetic
# web emits only 301; the real transport (operators/http_fetch) can
# surface any of these, so the loop and oracle share the full set.
REDIRECT_STATUSES = frozenset({301, 302, 303, 307, 308})
# F6 response allowlist (content_filter_middleware.py:43-51): responses of
# these types are ACCEPTED as pages (stored + counted in the budget);
# anything else (image/png, ...) is dropped after fetch. robots/sitemap
# control fetches are classed separately and never count as pages (F7).
ACCEPTED_CONTENT_TYPES = frozenset(
    {"text/html", "application/xhtml+xml", "application/xml", "text/plain"}
)
# of the accepted types only text/html carries spans+outlinks in the
# synthetic web (the parse stage is a no-op on the others)
PARSEABLE_CONTENT_TYPES = frozenset({"text/html"})


@dataclass(frozen=True)
class CrawlPolicy:
    quota_per_host: int = 4      # scheduled fetches per (crawl, host) per batch
    max_attempts: int = 3        # retries before a URL is buried as failed
    backoff_cap: int = 8         # batches; delay = min(2^attempts, cap)
    max_batches: int = 10_000    # hard loop guard
    n_salts: int = 4             # skew salting width for the politeness stage
    checkpoint_every: int = 1    # durable frontier/manifest every N batches
                                 # (outputs are durable every batch; >1 trades
                                 # replay-on-resume for fewer state writes)
    salt_threshold: int = 2_000_000  # eligible rows below this skip the salted
                                     # phase-1 politeness pre-filter (it exists
                                     # to bound per-task work under hot-host
                                     # skew; the phase-2 window is exact)
    autothrottle: bool = False   # P2 analog: per-host EWMA latency scales
                                 # next batch's quota (deterministic; default
                                 # off to keep the reference-politeness trace)
    ewma_alpha: float = 0.5      # EWMA smoothing for autothrottle
    autothrottle_ttl_batches: int = 64  # P2 state hygiene: a host with no
                                 # scheduled fetch for more than this many
                                 # batches is EVICTED from the EWMA state
                                 # (bounds host_lat to hosts active in the
                                 # window — at 10^8 lifetime hosts the state
                                 # table must not grow monotonically); the
                                 # EWMA re-seeds from the first observed
                                 # batch mean when the host returns. Oracle
                                 # and engine implement identical semantics.
                                 # 0 = never evict.
    sitemap_now_date: str = "2024-06-01"  # frozen clock for sitemap recency
                                          # scoring (reference uses now(),
                                          # SURVEY.md §4 determinism substitution)
    use_bloom: bool = True       # partitioned bloom pre-filter ahead of the
                                 # seen anti-join (bloom misses bypass the join)
    bloom_buckets: int = 64      # bloom bitmap partitioning width
    bloom_split_min: int = 2048  # eligible rows below which the bloom SPLIT
                                 # is skipped (plain anti-join — identical
                                 # output; the split's two cogroup exchanges
                                 # cost more than they shave on thin batches).
                                 # The bloom delta build/merge still runs
                                 # every admitting batch regardless.
    compact_seen_every: int = 16  # rewrite the admitted-delta union into one
                                  # hash-spread seen table every N committed
                                  # batches; keeps the per-batch anti-join read
                                  # O(N/compact) files instead of O(#batches)
    frontier_snapshot_every: int = 8  # full frontier parquet snapshot every N
                                      # batches; other batches persist an
                                      # O(batch) delta (rm'd seqs + added rows)
                                      # and resume replays deltas over the
                                      # newest snapshot — the durable frontier
                                      # cost is O(batch), not O(frontier),
                                      # per batch (10^10-frontier north rule)
    seq_singlepart_threshold: int = 20_000  # seed count (init) or eligible
                                            # count (each batch) up to which
                                            # discovery_seq stamping uses one
                                            # global window (no range-sample /
                                            # counting jobs); above it, the
                                            # shuffle-scalable two-phase path
    max_failed_pages: int = 20   # Q6: abort admission for a crawl once its
                                 # cumulative failed fetch attempts
                                 # (status>=400) reach this (MAX_FAILED_PAGES,
                                 # base_spider.py:232-243, settings.py:75-76)
    max_batches_per_crawl: int | None = None  # Q6: per-crawl batch budget —
                                 # the CLOSESPIDER_TIMEOUT=900 analog
                                 # (settings.py:75-76) made deterministic:
                                 # a crawl schedules/admits nothing from
                                 # this batch index on (a seed may override
                                 # with its own "max_batches"); None = no cap
    count_scheduled_in_budget: bool = False  # True: max_pages counts scheduled
                                             # fetches, not just successful html
                                             # pages (reference counts successes;
                                             # True compresses the budget tail —
                                             # used by throughput benches)

    def backoff(self, attempts: int, status: int | None = None) -> int:
        """Batches to wait before the next attempt (attempts >= 1).
        Per-status multiplier from RETRY_POLICY (jitter dropped —
        SURVEY.md §4 determinism substitution)."""
        import math

        mult = RETRY_POLICY.get(status, (1.0, self.max_attempts))[0] if status else 1.0
        return min(int(math.ceil(mult * (2.0**attempts))), self.backoff_cap)

    def max_attempts_for(self, status: int) -> int:
        """Global cap ∧ per-status cap (retry_middleware.py tables)."""
        return min(self.max_attempts, RETRY_POLICY.get(status, (1.0, 0))[1])


# the deterministic scheduling order (SURVEY.md §2.4 Q5): lower depth first,
# higher priority first, earlier discovery first. discovery_seq is globally
# unique so this is a total order.
ORDER_KEY_COLS = ("depth", "priority_score", "discovery_seq")


def order_key(entry: dict) -> tuple:
    """Python-side sort key matching ORDER_BY depth ASC, priority DESC, seq ASC."""
    return (entry["depth"], -entry["priority_score"], entry["discovery_seq"])
