"""The frontier iteration loop — batch-mode BFS crawl (SURVEY.md §3.1).

Replaces the reference's process zoo (beanstalkd tubes + crawl-job
listener + Scrapy spiders + 15 parser workers) with one iterative Spark
plan per micro-batch:

  schedule (politeness top-q + budget cap)
    → fetch (Arrow UDF over the synthetic web)
    → outlink admission (filters → canonicalize → dedup → seen anti-join
       → robots gate) → discovery_seq assignment → frontier insert
    → atomic checkpoint commit (storage.BatchStore)

``CrawlLoop`` runs this one batch per ``step()`` between one ``open()``
(init or resume) and one ``close()``; ``run_crawl`` steps it to the end.

Performance shape (local[32] now, 1000 executors later):
- Each heavy plan materializes EXACTLY ONCE per batch, as its durable
  parquet write (write-then-readback): `fetched` (materializes politeness
  + fetch), `admitted` (materializes the admission pipeline), and the
  frontier localCheckpoint (materializes the state union). Trace, docs,
  metrics, seen and blocked are read-time projections of the two written
  tables — no extra jobs, no extra copies.
- The URL-seen set is never re-materialized: the admission anti-join
  probes the lazy union of previously written `admitted` parquet dirs
  (append-only deltas; at 10^6+ batches these would be compacted, which
  is the Iceberg MERGE swap point in storage.py).
- Idle backoff gaps are jumped in one step (batch -> min not_before)
  rather than committed as empty batches; the oracle's batch numbering is
  preserved because nothing observable happens in the gap.
- Every batch appends per-partition lineage + metrics (north rule), and a
  killed job resumes exactly: deterministic replay from the last durable
  manifest reproduces bit-identical outputs (tests/test_trace_equality.py).
"""

from __future__ import annotations

import datetime
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .. import synth
from ..functions.urls import canonicalize_url, host_col
from ..operators import seen_filter
from ..operators.admission import (
    admit, aggregate_robots_rules, dedup_in_batch, gate_robots,
)
from ..operators.fetch import fetch_scheduled
from ..operators.politeness import select_fetch_batch
from ..functions.sitemaps import sitemap_score_col
from ..operators.sequence import with_sequence
from ..policy import (
    ACCEPTED_CONTENT_TYPES, REDIRECT_STATUSES, RETRY_POLICY, RETRYABLE_STATUSES,
    CrawlPolicy,
)
from ..storage import BatchStore

_FRONTIER_COLS = [
    "crawl_id", "url", "url_norm", "url_hash", "url_fp", "host", "depth",
    "priority_score", "discovery_seq", "state", "attempts", "not_before_batch",
    "forced_strategy",
]

_RETRYABLE_LIST = sorted(RETRYABLE_STATUSES)
_REDIRECT_LIST = sorted(REDIRECT_STATUSES)
_ACCEPTED_LIST = sorted(ACCEPTED_CONTENT_TYPES)


def _is_page():
    """F6+F7: a page is a 200 response of an accepted content type
    (content_filter_middleware.py:43-51 allowlist) that is NOT a
    robots/sitemap control fetch. Non-html accepted types (xml/plain)
    count toward the budget and are stored, but carry no spans/outlinks
    in the synthetic web."""
    return (
        (F.col("status") == 200)
        & F.col("content_type").isin(_ACCEPTED_LIST)
        & (F.col("doc_class") == "content")
    )


@dataclass
class CrawlRunResult:
    store: BatchStore
    last_batch: int
    batch_seconds: list | None = None  # wall time of each executed batch
    _max_failed: int = 20              # policy.max_failed_pages at run time
    _default_cap: int = 1 << 30        # policy.max_batches_per_crawl (or inf)
    # order-insensitive output hashes ACCUMULATED batch-by-batch as
    # observe() metrics on the writes that run anyway (bit_xor is
    # associative/commutative, so the XOR of per-batch bit_xors equals
    # the full-table scan bit-for-bit — pinned by
    # tests/test_trace_equality.py). Set only on fresh, complete runs:
    # {"trace_rows", "trace_hash", "seen_rows", "seen_hash"}. A resumed
    # or stop_after_batch run leaves this None (partial accumulation
    # would be a lie) and callers fall back to the full scan.
    out_hashes: dict | None = None

    def budget(self, spark: SparkSession) -> DataFrame:
        """Per-crawl budget state (pages/failed/max_pages/max_batches) as
        a DataFrame — the run path returns tables, never O(#crawls)
        driver dicts (r3 #7; at the 10^7-crawl shape a collect here would
        serialize the run end)."""
        return self.store.read_table(spark, self.last_batch, "budget")

    def pages_dict(self, spark: SparkSession) -> dict:
        """{crawl_id: pages} driver-side convenience for tests and CLI
        summaries; the O(#crawls) collect happens only when a call site
        explicitly asks for it."""
        return {r["crawl_id"]: r["pages"] for r in self.budget(spark).collect()}

    def _fetched(self, spark: SparkSession) -> DataFrame | None:
        return self.store.read_appendonly(spark, self.last_batch, "fetched")

    def _admitted(self, spark: SparkSession) -> DataFrame | None:
        return self.store.read_appendonly(spark, self.last_batch, "admitted")

    def trace(self, spark: SparkSession) -> DataFrame:
        f = self._fetched(spark)
        return f.select(
            "crawl_id", "batch_id", "seq_in_batch", "url_norm", "host", "depth"
        )

    def seen(self, spark: SparkSession) -> DataFrame:
        a = self._admitted(spark)
        return a.select("crawl_id", "url_hash", "url_norm", "first_seen_batch")

    def docs(self, spark: SparkSession) -> DataFrame | None:
        f = self._fetched(spark)
        if f is None:
            return None
        return f.where(_is_page()).select(
            "crawl_id", "url_norm", "url_hash", "host", "depth", "status",
            "content_type", "doc_id", "spans", "response_headers",
            F.col("batch_id").alias("fetched_in_batch"),
        )

    def blocked(self, spark: SparkSession) -> DataFrame | None:
        a = self._admitted(spark)
        if a is None:
            return None
        return a.where(~F.col("robots_ok")).select(
            "crawl_id", "url_norm", F.col("first_seen_batch").alias("batch_id")
        )

    def metrics(self, spark: SparkSession) -> DataFrame | None:
        f = self._fetched(spark)
        if f is None:
            return None
        return f.groupBy("crawl_id", "batch_id", "host").agg(
            F.count("*").alias("requests"),
            F.sum(_is_page().cast("long")).alias("successes"),
            F.sum((F.col("status") >= 400).cast("long")).alias("failures"),
            F.sum(F.when(_is_page(), F.size("spans")).otherwise(0)).cast("long").alias("bytes"),
        )

    def lineage(self, spark: SparkSession) -> DataFrame | None:
        """Per-partition lineage + metrics rows, journaled with the
        frontier deltas (one write job per batch — r3 #3)."""
        j = self.store.read_appendonly(spark, self.last_batch, "frontier_delta")
        if j is None:
            return None
        return j.where(F.col("_op") == "lineage").select(
            "batch_id", "partition_id", "rows_in", "rows_fetched",
            "rows_deduped", "rows_admitted", "commit_ts",
        )

    def frontier_left(self, spark: SparkSession) -> DataFrame:
        """Frontier rows remaining at exit (finished crawls purged) —
        oracle-diffed in tests/test_trace_equality.py. Delta replay
        records schedules/additions, not finished-crawl purges, so the
        purge is applied at read time exactly like the resume path."""
        f = self.store.read_frontier(spark, self.last_batch, _FRONTIER_COLS)
        b = self.store.read_table(spark, self.last_batch, "budget")
        active = b.where(
            (F.col("pages") < F.col("max_pages"))
            & (F.col("failed") < F.lit(self._max_failed))
            & (
                F.lit(self.last_batch + 1)
                < F.coalesce(F.col("max_batches"), F.lit(self._default_cap))
            )
        ).select("crawl_id")
        return f.join(F.broadcast(active), "crawl_id", "left_semi")

    def health(self, spark: SparkSession) -> DataFrame:
        """A4 queue-health view (workers/monitor_worker.py:60-120 checks
        ready/buried counts per tube and warns on backlog): per crawl —
        queued rows left, retry backlog (attempts>0, the 'buried jobs may
        need attention' analog), delayed rows (backoff not yet due),
        pages/failed vs budget, and a status verdict. Host CPU/mem/disk
        (:121-139 psutil) stay Spark-UI domain by design."""
        f = self.frontier_left(spark)
        per_crawl = f.groupBy("crawl_id").agg(
            F.count("*").alias("queued"),
            F.sum((F.col("attempts") > 0).cast("long")).alias("retry_backlog"),
            F.sum(
                (F.col("not_before_batch") > self.last_batch).cast("long")
            ).alias("delayed"),
        )
        budget = self.store.read_table(spark, self.last_batch, "budget")
        return budget.join(per_crawl, "crawl_id", "left").select(
            "crawl_id",
            "pages",
            "failed",
            "max_pages",
            F.coalesce(F.col("queued"), F.lit(0)).alias("queued"),
            F.coalesce(F.col("retry_backlog"), F.lit(0)).alias("retry_backlog"),
            F.coalesce(F.col("delayed"), F.lit(0)).alias("delayed"),
            F.when(F.col("pages") >= F.col("max_pages"), F.lit("completed"))
            .when(F.col("failed") >= F.lit(self._max_failed), F.lit("failed_out"))
            .when(F.coalesce(F.col("queued"), F.lit(0)) == 0, F.lit("exhausted"))
            .otherwise(F.lit("waiting"))
            .alias("status"),
        )


def _table_exists(store: BatchStore, batch_id: int, table: str) -> bool:
    return os.path.isdir(store.table_path(batch_id, table))


def _crawl_dim(spark: SparkSession, seeds: list[dict]) -> DataFrame:
    rows = []
    for s in sorted(seeds, key=lambda s: s["crawl_id"]):
        dom = s["domain"]
        a1, a2 = (dom, dom[4:]) if dom.startswith("www.") else (dom, f"www.{dom}")
        rows.append((s["crawl_id"], dom, a1, a2, int(s["max_pages"])))
    return spark.createDataFrame(
        rows, "crawl_id string, domain string, allowed_host_1 string, "
        "allowed_host_2 string, max_pages int"
    )


def _finish_frontier_rows(admitted_ok: DataFrame) -> DataFrame:
    """Admitted candidates (with discovery_seq) → FRONTIER-schema rows.

    url_fp is computed JVM-side as sha2(url_norm): for canonical URLs
    without path-;params the reference's fingerprint string
    (lib/utils/url_utils.py:186-190) IS the canonical URL, so this equals
    functions.urls.url_fingerprint(url_norm) on the crawl's URL space
    (property-tested) while keeping the hot loop free of Python."""
    return admitted_ok.select(
        "crawl_id",
        "url",
        "url_norm",
        F.col("url_hash"),
        F.sha2(F.col("url_norm"), 256).alias("url_fp"),
        "host",
        F.col("depth").cast("int").alias("depth"),
        F.col("priority_score"),
        "discovery_seq",
        F.lit("queued").alias("state"),
        F.lit(0).alias("attempts"),
        F.lit(0).cast("long").alias("not_before_batch"),
        F.lit(0).alias("forced_strategy"),
    )


def _admitted_wide(admitted: DataFrame, batch_id: int) -> DataFrame:
    """Durable ``admitted`` rows: the seen-set delta + robots verdicts +
    everything with_sequence/frontier-insert need downstream."""
    return admitted.select(
        "crawl_id",
        F.xxhash64("url_norm").alias("url_hash"),
        "url_norm",
        F.lit(batch_id).cast("long").alias("first_seen_batch"),
        "robots_ok",
        "url",
        "host",
        "parent_seq",
        "link_idx",
        "depth",
        "priority_score",
    )


def _stamp_seq(rows: DataFrame, start: int, n_rows: int, threshold: int) -> DataFrame:
    """Stamp ``discovery_seq`` = start, start+1, ... in (parent_seq,
    link_idx) order — a total order (dedup keeps one row per key).

    ``n_rows`` bounds the input (the seed or eligible count). Up to
    ``threshold`` one global window stamps the rows inside the consumer's
    own job; above it the two-phase ``with_sequence`` range sort avoids a
    single-partition stage at the cost of its sample and count jobs. Both
    give the same values."""
    if n_rows <= threshold:
        return rows.withColumn("discovery_seq", (
            F.row_number().over(Window.orderBy("parent_seq", "link_idx"))
            + F.lit(start - 1)).cast("long"))
    # looked up as this module's global, so a wrapper bound there (the
    # perfbench tracer's sequence.stamp_s) sees the call
    return with_sequence(rows, ["parent_seq", "link_idx"], start=start)[0]


def init_crawl(
    spark: SparkSession,
    seeds: list[dict],
    robots_rules: DataFrame,
    store: BatchStore,
    seq_singlepart_threshold: int = 20_000,
) -> tuple[DataFrame, int]:
    """Seed admission, committed as batch=-1 (reference: start_urls are
    enqueued unfiltered, domain_spider.py:219-265; robots gating still
    applies per north rule). Returns (frontier_df, next_seq)."""
    ordered = sorted(seeds, key=lambda s: s["crawl_id"])
    rows = []
    for idx, s in enumerate(ordered):
        seed_url = s["url"] or f"https://{s['domain']}/"
        # the submission's Q2 numeric priority (e.g. an earlier epoch's
        # PageRank via pipelines/graph.submission_priorities) rides the
        # seed frontier row. Sign convention: submissions order ASCENDING
        # (queue style), the loop's order key DESCENDING on
        # priority_score — so the row carries the negation; the oracle
        # applies the same rule.
        pri = -float(s.get("priority") or 0.0)
        rows.append(
            (s["crawl_id"], seed_url, canonicalize_url(seed_url), 0, idx, 0, pri)
        )
    cand = spark.createDataFrame(
        rows,
        "crawl_id string, url string, url_norm string, parent_seq long, "
        "link_idx int, depth int, priority_score double",
    ).withColumn("host", host_col(F.col("url_norm")))
    deduped = dedup_in_batch(cand.withColumnRenamed("url", "raw_url"))
    admitted = gate_robots(deduped, robots_rules)

    seed_obs = Observation("seen-init")
    store.write_table(
        _admitted_wide(admitted, -1).observe(
            seed_obs,
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(crawl_id, url_norm))").alias("h"),
            F.sum(F.col("robots_ok").cast("long")).alias("ok"),
        ),
        -1,
        "admitted",
    )
    sm = seed_obs.get
    n_queued = int(sm["ok"] or 0)
    admitted_r = store.read_table(spark, -1, "admitted")

    queued = _stamp_seq(
        admitted_r.where("robots_ok"), 0, len(seeds), seq_singlepart_threshold
    )
    store.write_table(_finish_frontier_rows(queued), -1, "frontier")
    frontier = store.read_table(spark, -1, "frontier")
    budget = spark.createDataFrame(
        [
            (s["crawl_id"], 0, 0, int(s["max_pages"]), s.get("max_batches"))
            for s in ordered
        ],
        "crawl_id string, pages int, failed int, max_pages int, max_batches int",
    )
    store.write_table(budget, -1, "budget")
    store.commit(-1, {"next_seq": int(n_queued)})
    return frontier, int(n_queued), (int(sm["n"] or 0), int(sm["h"] or 0))


def _ck_rdd(df: DataFrame | None):
    """The JVM RDD holding a localCheckpoint-ed frame's blocks; None for
    any other plan (a parquet read, an empty literal frame)."""
    if df is None:
        return None
    plan = df._jdf.queryExecution().logical()
    return plan.rdd() if plan.getClass().getSimpleName() == "LogicalRDD" else None


def _unpersist(df: DataFrame | None) -> None:
    rdd = _ck_rdd(df)
    if rdd is not None:
        # the SparkContext call, not RDD.unpersist: that one logs a warning
        # per locally checkpointed RDD, i.e. several every batch
        rdd.context().unpersistRDD(rdd.id(), False)


@dataclass
class BatchReport:
    """One executed batch, as ``CrawlLoop.step`` returns it."""

    batch: int
    seconds: float


@dataclass
class LoopState:
    """What one batch hands the next. The frames are localCheckpoints; a
    background pool overlaps the journal write and the budget/strategy/
    bloom checkpoints with the critical path (under AQE even a lazy
    localCheckpoint runs its shuffle stages at the call, ~1 s each). Each
    future resolves before its first consumer, the journal before every
    manifest commit, so ordering and the commit protocol are a sequential
    loop's. Superseded checkpoints are unpersisted once nothing can read
    them (``release``): cached blocks stay flat while the loop is open."""

    frontier: DataFrame
    budget: DataFrame           # per-crawl pages/failed/max_pages/max_batches
    strat: DataFrame            # P6 per (crawl, host) all-fail batch count
    bloom: DataFrame | None     # partitioned bloom over the seen set
    host_lat: DataFrame | None  # P2 per-host latency EWMA (autothrottle)
    robots_agg: DataFrame
    crawls: DataFrame
    geometry: seen_filter.BloomGeometry  # the bloom's build AND probe layout
    next_seq: int
    batch: int                  # the next batch to run
    last_committed: int
    acc: dict | None            # CrawlRunResult.out_hashes accumulators
    # (elig, next_nb) of `batch`, carried by the frontier checkpoint's
    # Observation; None -> recount (fresh open, resume, gap jump)
    pending: tuple | None = None
    pool: ThreadPoolExecutor = field(default_factory=lambda: ThreadPoolExecutor(4))
    futures: dict = field(default_factory=dict)
    retired: list = field(default_factory=list)  # (old, successor) pairs

    def submit(self, name: str, fn, *args) -> None:
        self.futures[name] = self.pool.submit(fn, *args)

    def resolve(self, name: str) -> None:
        """Join background job ``name``; a frame it returns replaces the
        state field of that name."""
        fut = self.futures.pop(name, None)
        new = fut.result() if fut is not None else None
        if new is not None:
            self.replace(name, new)

    def replace(self, name: str, new: DataFrame) -> None:
        self.retired.append((getattr(self, name), new))
        setattr(self, name, new)

    def release(self) -> None:
        """Unpersist each retired checkpoint whose successor is
        checkpointed or fully cached: no job can recompute through the old
        blocks any more. Callers make sure no journal write is in flight
        (it reads the previous frontier's blocks)."""
        sc = self.frontier.sparkSession.sparkContext
        cached = {i.id(): i.numCachedPartitions() for i in sc._jsc.sc().getRDDStorageInfo()}
        keep = []
        for old, new in self.retired:
            rdd = _ck_rdd(new)
            if rdd is not None and (rdd.isCheckpointed() or
                                    cached.get(rdd.id(), 0) == rdd.getNumPartitions()):
                _unpersist(old)
            else:
                keep.append((old, new))
        self.retired = keep

    def close(self) -> None:
        """Wait for every background job, stop the pool and unpersist
        everything the loop cached."""
        self.pool.shutdown(wait=True)
        for df in (self.frontier, self.budget, self.strat, self.bloom,
                   self.host_lat, *(old for old, _ in self.retired)):
            _unpersist(df)
        self.robots_agg.unpersist()
        self.crawls.unpersist()


class CrawlLoop:
    """The frontier loop, one batch per ``step()``.

    ``open()`` initializes a fresh checkpoint or resumes its last
    committed batch, once. ``step()`` runs the next batch and commits it
    when it is durable. ``close()`` makes the final commit, joins the
    background pool and re-raises any failure of it. As a context manager
    the loop closes on every exit, and commits only when the body did not
    raise. Arguments are ``run_crawl``'s."""

    def __init__(
        self, spark: SparkSession, cfg: synth.SynthConfig, seeds: list[dict],
        robots_rules: DataFrame, checkpoint_dir: str,
        policy: CrawlPolicy = CrawlPolicy(), resume: bool = False,
        stop_after_batch: int | None = None, fetcher=None,
    ):
        self.spark, self.cfg, self.seeds = spark, cfg, seeds
        self.robots_rules, self.policy = robots_rules, policy
        self.resume, self.stop_after_batch = resume, stop_after_batch
        self.fetch = fetcher or (lambda s, hint: fetch_scheduled(s, cfg, n_rows_hint=hint))
        self.store = BatchStore(checkpoint_dir)
        # Q6 per-crawl batch budget (CLOSESPIDER_TIMEOUT analog): per-seed
        # "max_batches", else policy.max_batches_per_crawl, else unbounded
        cap = policy.max_batches_per_crawl
        self.default_cap = (1 << 30) if cap is None else cap
        self.state: LoopState | None = None
        self.batch_seconds: list = []
        self.done = False      # no batch left to run
        self.drained = False   # ... because the crawl ran to its end

    def __enter__(self) -> "CrawlLoop":
        return self.open()

    def __exit__(self, exc_type, *_) -> None:
        self.close(ok=exc_type is None)

    def _active(self, b: int):
        """A crawl is active at batch b iff its page budget remains, its
        failure cap is unreached, and b is below its batch cap."""
        return (
            (F.col("pages") < F.col("max_pages"))
            & (F.col("failed") < F.lit(self.policy.max_failed_pages))
            & (F.lit(b) < F.coalesce(F.col("max_batches"), F.lit(self.default_cap)))
        )

    def open(self) -> "CrawlLoop":
        spark, store, pol = self.spark, self.store, self.policy
        store.rollback_uncommitted()
        last = store.last_committed()
        geometry = seen_filter.BloomGeometry(n_buckets=pol.bloom_buckets)
        acc = bloom = None
        if not self.resume or last is None:
            if last is not None:
                raise ValueError(f"checkpoint {store.root} already has state; pass resume=True")
            frontier, next_seq, (seed_n, seed_h) = init_crawl(
                spark, self.seeds, self.robots_rules, store,
                seq_singlepart_threshold=pol.seq_singlepart_threshold,
            )
            # output-hash accumulators (see CrawlRunResult.out_hashes): a
            # resume cannot cheaply reconstruct the prior batches' share
            acc = {"trace_rows": 0, "trace_hash": 0, "seen_rows": seed_n, "seen_hash": seed_h}
            last = -1
        else:
            next_seq = store.read_manifest(last)["next_seq"]
            # delta replay records schedules/additions, not finished-crawl
            # purges; apply the purge once with the committed budget
            # (budgets are monotone — a finished crawl never un-finishes,
            # so purging at resume equals purging every batch)
            active = store.read_table(spark, last, "budget").where(
                self._active(last + 1)).select("crawl_id")
            frontier = store.read_frontier(spark, last, _FRONTIER_COLS).join(
                F.broadcast(active), "crawl_id", "left_semi"
            )
            if pol.use_bloom:
                # the bloom over the whole seen set (north rule); a fresh
                # run has none yet and folds its seeds into batch 0's delta
                bloom = seen_filter.build_bloom_delta(
                    store.read_seen(spark, last).select("url_norm"),
                    **asdict(geometry),
                ).localCheckpoint()
        robots_agg = aggregate_robots_rules(self.robots_rules).cache()
        robots_agg.count()
        host_lat = None
        if pol.autothrottle:
            host_lat = (
                store.read_table(spark, last, "hostlat")
                if _table_exists(store, last, "hostlat")
                else spark.createDataFrame([], "host string, ewma double, last_b long")
            )
        # P6 escalation: strategy level = min(2, fail_batches) (direct ->
        # proxy -> render, base_spider.py:151-244 made batch-deterministic)
        strat = (
            store.read_table(spark, last, "strategy")
            if _table_exists(store, last, "strategy")
            else spark.createDataFrame([], "crawl_id string, host string, fail_batches int")
        )
        self.state = LoopState(
            # budget: a Spark state table, not a driver dict — every O(#crawls)
            # driver loop/collect would serialize the batch at 10^5+ crawls
            frontier=frontier, budget=store.read_table(spark, last, "budget").localCheckpoint(),
            strat=strat.localCheckpoint(), bloom=bloom, host_lat=host_lat,
            robots_agg=robots_agg, crawls=_crawl_dim(spark, self.seeds).cache(),
            geometry=geometry, next_seq=next_seq, batch=last + 1, last_committed=last, acc=acc,
        )
        return self

    def _grow_bloom(self, bloom: DataFrame | None, urls: DataFrame) -> DataFrame:
        delta = seen_filter.build_bloom_delta(urls, **asdict(self.state.geometry))
        return seen_filter.merge_blooms(bloom, delta).localCheckpoint(eager=False)

    def _commit(self, batch: int, snapshot: bool) -> None:
        """Write the state tables, then the manifest that commits
        ``batch`` (the journal is joined first: it must precede it)."""
        st, store = self.state, self.store
        st.resolve("budget")
        st.resolve("strat")
        if snapshot:
            store.write_table(st.frontier, batch, "frontier")
        store.write_table(st.budget, batch, "budget")
        store.write_table(st.strat, batch, "strategy")
        if self.policy.autothrottle:
            store.write_table(st.host_lat, batch, "hostlat")
        st.resolve("journal")
        store.commit(batch, {"next_seq": st.next_seq})
        st.last_committed = batch

    def step(self) -> BatchReport | None:
        """Run the next batch — jumping an idle backoff gap first — and
        commit it when it is durable. None once no batch is left."""
        if self.done:
            return None
        st, pol, store, spark = self.state, self.policy, self.store, self.spark
        while True:
            t0 = time.time()
            if st.batch >= pol.max_batches:
                self.done = self.drained = True
                return None
            # max_pages rides the budgets broadcast: the fetch stage needs
            # it for the sitemap-index early break (domain_spider.py:326-354)
            budgets = st.budget.where(self._active(st.batch)).select(
                "crawl_id", (F.col("max_pages") - F.col("pages")).alias("remaining"), "max_pages"
            )
            avail = st.frontier.join(F.broadcast(budgets), "crawl_id")
            if st.pending is None:
                counts = avail.agg(
                    F.sum((F.col("not_before_batch") <= st.batch).cast("long")).alias("elig"),
                    F.min(
                        F.when(F.col("not_before_batch") > st.batch, F.col("not_before_batch"))
                    ).alias("next_nb"),
                ).collect()[0]
                st.pending = (counts["elig"] or 0, counts["next_nb"])
            n_elig, next_nb = st.pending
            if n_elig:
                break
            if next_nb is None:
                self.done = self.drained = True
                return None
            # jump the idle backoff gap in one step; nothing observable
            # happens in between, so batch numbering stays oracle-equal
            st.batch, st.pending = int(next_nb), None
        batch = st.batch

        eligible = avail.where(F.col("not_before_batch") <= batch).drop("remaining", "max_pages")
        host_quotas = None
        if pol.autothrottle:
            host_quotas = st.host_lat.select(
                "host",
                F.greatest(
                    F.lit(1),
                    F.floor(F.lit(pol.quota_per_host) / (F.lit(1.0) + F.col("ewma"))).cast("int"),
                ).alias("quota_h"),
            )
        scheduled = select_fetch_batch(
            eligible, budgets, pol, n_eligible=n_elig, host_quotas=host_quotas,
        )
        # P6: effective strategy = host escalation level ∨ per-URL 403
        # force-proxy (retry_middleware.py:33-55); the explicit broadcast
        # stops the planner from SMJ-ing the batch against an RDD scan
        st.resolve("strat")
        scheduled = scheduled.join(
            F.broadcast(st.strat), ["crawl_id", "host"], "left"
        ).withColumn(
            "strategy_level",
            F.greatest(
                F.least(F.coalesce(F.col("fail_batches"), F.lit(0)), F.lit(2)),
                F.col("forced_strategy"),
            ),
        ).drop("fail_batches")

        # materialization #1: politeness + fetch, straight into parquet.
        # n_rows_hint caps the Arrow-stage partition count by the batch's
        # row count (thin waves skip empty python tasks; values never
        # depend on partitioning). The trace hash rides the write as an
        # Observation: XOR-accumulated per batch it equals the full-trace
        # bit_xor scan, so callers need no final aggregation job
        tr_obs = Observation(f"trace-{batch}")
        store.write_table(
            self.fetch(scheduled, n_elig).withColumn("batch_id", F.lit(batch).cast("long")).observe(
                tr_obs, F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(crawl_id, batch_id, seq_in_batch, url_norm, depth))").alias("h"),
            ),
            batch, "fetched",
        )
        if st.acc is not None:
            tm = tr_obs.get
            st.acc["trace_rows"] += int(tm["n"] or 0)
            st.acc["trace_hash"] ^= int(tm["h"] or 0)
        fetched = store.read_table(spark, batch, "fetched")

        # ONE aggregation pass for the budget (pages) and fail deltas: each
        # separate post-fetch agg is a fixed cost the thin tail pays
        page_pred = F.lit(True) if pol.count_scheduled_in_budget else _is_page()
        deltas = fetched.groupBy("crawl_id").agg(
            F.sum(page_pred.cast("long")).alias("_n"),
            F.sum((F.col("status") >= 400).cast("long")).alias("_f"),
        )
        budget = st.budget.join(deltas, "crawl_id", "left").select(
            "crawl_id",
            (F.col("pages") + F.coalesce(F.col("_n"), F.lit(0))).cast("int").alias("pages"),
            (F.col("failed") + F.coalesce(F.col("_f"), F.lit(0))).cast("int").alias("failed"),
            "max_pages", "max_batches",
        )
        # checkpointed in the background; resolved before active_df below
        st.submit("budget", budget.localCheckpoint, False)
        # P6: hosts whose every fetch this batch failed escalate one level
        host_fail = fetched.groupBy("crawl_id", "host").agg(
            (F.max(F.when(F.col("status") < 400, 1).otherwise(0)) == 0).alias("_allfail")
        )
        strat = st.strat.join(host_fail, ["crawl_id", "host"], "full").select(
            "crawl_id", "host",
            (F.coalesce(F.col("fail_batches"), F.lit(0))
             + F.when(F.coalesce(F.col("_allfail"), F.lit(False)), 1).otherwise(0)
             ).cast("int").alias("fail_batches"),
        )
        # checkpointed in the background; resolved before the next batch's
        # scheduled join (or this batch's durable write)
        st.submit("strat", strat.localCheckpoint, False)

        # --- retries (Q7/P8: per-status multiplier + per-status retry cap,
        # backoff in batches, bury past the cap — retry_middleware.py:33-55)
        retryable = F.col("status").isin(_RETRYABLE_LIST)
        mult = F.lit(1.0)
        max_r = F.lit(0)
        for st_code, (m, r) in RETRY_POLICY.items():
            mult = F.when(F.col("status") == st_code, F.lit(m)).otherwise(mult)
            max_r = F.when(
                F.col("status") == st_code, F.lit(min(r, pol.max_attempts))
            ).otherwise(max_r)
        retries = (
            fetched.where(retryable & (F.col("attempts") < max_r))
            .withColumn("attempts", F.col("attempts") + 1)
            .withColumn(
                "not_before_batch",
                F.lit(batch)
                + F.least(
                    F.ceil(mult * F.pow(F.lit(2.0), F.col("attempts"))),
                    F.lit(pol.backoff_cap).cast("long"),
                ),
            )
            # 403 retries force the proxy strategy (retry_middleware.py:33-55)
            .withColumn("forced_strategy", F.when(F.col("status") == 403, F.lit(1))
                        .otherwise(F.col("forced_strategy")))
            .select(*_FRONTIER_COLS)
        )

        # --- outlink candidates from this batch's fetches
        parsed = fetched.where(_is_page()).select(
            "crawl_id",
            F.col("discovery_seq").alias("parent_seq"),
            (F.col("depth") + 1).alias("depth"),
            F.posexplode("outlinks").alias("link_idx", "raw_url"),
        ).withColumn("priority_score", F.lit(0.0))
        redirected = fetched.where(
            F.col("status").isin(_REDIRECT_LIST) & (F.size("outlinks") > 0)
        ).select(
            "crawl_id", F.col("discovery_seq").alias("parent_seq"), F.col("depth"),
            F.lit(0).alias("link_idx"), F.col("outlinks").getItem(0).alias("raw_url"),
            F.lit(0.0).alias("priority_score"),
        )
        # S6/Q3/Q4: sitemap-discovered URLs — scored (frozen clock), ranked
        # by score, truncated to the crawl's max_pages (sitemap_utils.py:
        # 374-433), admitted with the score as priority_score
        sm = (
            fetched.where(F.size("sitemap_entries") > 0)
            .select(
                "crawl_id",
                F.col("discovery_seq").alias("parent_seq"),
                (F.col("depth") + 1).alias("depth"),
                # max_pages rides the fetched row (scheduled carries it from
                # the budgets broadcast) — no per-batch crawls-dim join here
                "max_pages",
                F.explode("sitemap_entries").alias("e"),
            )
            .withColumn(
                "priority_score",
                sitemap_score_col(
                    F.col("e.priority"), F.col("e.lastmod"), F.col("e.changefreq"),
                    F.lit(pol.sitemap_now_date).cast("date"),
                ),
            )
            .withColumn("link_idx", F.row_number().over(
                Window.partitionBy("crawl_id", "parent_seq")
                .orderBy(F.desc("priority_score"), F.asc("e.url"))) - 1)
            .where(F.col("link_idx") < F.col("max_pages"))
            .select(
                "crawl_id", "parent_seq", "depth", "link_idx",
                F.col("e.url").alias("raw_url"), "priority_score",
            )
        )
        # S5: robots.txt fetches surface the located sitemap URL as a
        # CONTROL link — admitted with the F1-F5 content filters bypassed
        # (the reference fetches the located sitemap directly,
        # sitemap_utils.py:65-121, never through LinkExtractor)
        ctrl = (
            fetched.where(F.size("discovered") > 0)
            .select(
                "crawl_id",
                F.col("discovery_seq").alias("parent_seq"),
                (F.col("depth") + 1).alias("depth"),
                F.posexplode("discovered").alias("link_idx", "raw_url"),
            )
            .withColumn("priority_score", F.lit(0.0))
        )
        # active-crawl restriction + F4 scoping dim as ONE broadcast: the
        # allowed-hosts dim semi-filtered by the active budget set (an
        # isin() list breaks the plan at 10^4+ crawls)
        st.resolve("budget")
        active_df = st.budget.where(self._active(batch)).select("crawl_id")
        cand_dim = st.crawls.select("crawl_id", "allowed_host_1", "allowed_host_2").join(
            active_df, "crawl_id", "left_semi")
        candidates = (
            parsed.unionByName(redirected).unionByName(sm)
            .withColumn("is_control", F.lit(False))
            .unionByName(ctrl.withColumn("is_control", F.lit(True)))
            .join(F.broadcast(cand_dim), "crawl_id")
        )

        # the seen set, split for the anti-join (storage.read_seen_parts):
        # the bucketed compacted copy scans with NO exchange on its side,
        # deltas ride as a small second anti-join; the periodic compaction
        # keeps this read O(compact_every) files, not O(#batches)
        seen = store.read_seen_parts(spark, batch - 1)

        # materialization #2: the admission pipeline, straight into parquet.
        # The bloom split is a pure optimization (novel rows bypass the
        # exact join; output is identical with or without it) — below
        # bloom_split_min eligible rows its two cogroup exchanges cost more
        # than the anti-join they shave, so thin batches skip it. The
        # admitted row count rides the write as an Observation (no extra
        # job) and gates the bloom delta build below.
        st.resolve("bloom")
        use_split = st.bloom is not None and n_elig >= pol.bloom_split_min
        admitted = admit(
            candidates, seen, st.robots_agg, bloom=st.bloom if use_split else None,
            n_rows_hint=n_elig * max(1, self.cfg.branching), bloom_geometry=st.geometry,
        )
        adm_obs = Observation(f"adm-{batch}")
        store.write_table(
            _admitted_wide(admitted, batch).observe(  # + seen-set hash (see tr_obs)
                adm_obs, F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(crawl_id, url_norm))").alias("h"),
                F.sum(F.col("robots_ok").cast("long")).alias("ok"),
            ),
            batch, "admitted",
        )
        am = adm_obs.get
        n_admitted_rows = int(am["n"] or 0)
        # every robots_ok row is stamped, those of crawls purged below
        # included, so next_seq moves past all of them and no seq is handed
        # out twice (discovery_seq is the frontier's row key)
        n_admitted = int(am["ok"] or 0)
        if st.acc is not None:
            st.acc["seen_rows"] += n_admitted_rows
            st.acc["seen_hash"] ^= int(am["h"] or 0)
        admitted_r = store.read_table(spark, batch, "admitted")

        queued_new = _stamp_seq(
            admitted_r.where("robots_ok"), st.next_seq, n_elig, pol.seq_singlepart_threshold
        )

        # materialization #3: next frontier state (kept hot for the next
        # iteration; parquet-persisted on durable batches). The rebuild
        # also PURGES finished crawls' rows (pages/failed budgets never
        # un-finish, so those rows can never be scheduled again) and
        # carries the NEXT batch's eligibility aggregates as an
        # Observation — the per-batch count job folds into this one.
        next_active = st.budget.where(self._active(batch + 1)).select("crawl_id")
        elig_obs = Observation(f"elig-{batch}")
        frontier = (
            # scheduled seqs come from the MATERIALIZED fetched table
            # (1:1 with the scheduled rows) — re-deriving them from
            # the lazy `scheduled` plan would recompute the whole
            # politeness stage inside this job
            st.frontier.join(fetched.select("discovery_seq"), "discovery_seq", "left_anti")
            .select(*_FRONTIER_COLS)
            .unionByName(retries)
            .unionByName(_finish_frontier_rows(queued_new))
            .join(F.broadcast(next_active), "crawl_id", "left_semi")
            # each union appends its inputs' partitions: cap the count, or
            # an open loop's per-batch task count grows with every batch
            .coalesce(int(spark.conf.get("spark.sql.shuffle.partitions")))
            .observe(
                elig_obs,
                F.sum((F.col("not_before_batch") <= batch + 1).cast("long")).alias("elig"),
                F.min(F.when(F.col("not_before_batch") > batch + 1, F.col("not_before_batch"))
                      ).alias("next_nb"),
            )
        ).localCheckpoint()
        st.replace("frontier", frontier)
        em = elig_obs.get
        st.pending = (int(em["elig"] or 0), em["next_nb"])
        seq_floor = st.next_seq  # this batch's new admissions carry seq >= this
        st.next_seq += n_admitted

        # durable per-batch JOURNAL — O(batch), ONE write job. Rows: 'rm'
        # (the scheduled seqs leave), 'add' (retries + new admissions
        # enter), 'lineage' (per-partition lineage + metrics, north rule).
        # storage.read_frontier replays 'rm'/'add' over the newest full
        # snapshot (one every frontier_snapshot_every batches — the
        # Iceberg MERGE equivalent) and ignores 'lineage'.
        _ftypes = {f.name: f.dataType for f in frontier.schema.fields}
        # `add` rows come from the just-checkpointed frontier's CACHED
        # blocks, not a re-run of the stamp plan: retries are the rows
        # whose seq was scheduled this batch, new rows carry seq >=
        # seq_floor. Rows of crawls purged by next_active are absent,
        # which is read-equivalent: budgets are monotone, so every journal
        # reader re-applies the same purge at read time.
        add_rows = (
            frontier.join(fetched.select("discovery_seq").withColumn("_sch", F.lit(True)),
                          "discovery_seq", "left")
            .where((F.col("discovery_seq") >= F.lit(seq_floor)) | F.col("_sch").isNotNull())
            .select(*_FRONTIER_COLS)
            .withColumn("_op", F.lit("add"))
        )
        rm_rows = fetched.select(*[
            F.col(c) if c == "discovery_seq" else F.lit(None).cast(_ftypes[c]).alias(c)
            for c in _FRONTIER_COLS
        ]).withColumn("_op", F.lit("rm"))
        lineage = (
            fetched.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows_fetched"), F.sum(_is_page().cast("long")).alias("rows_ok"))
            .select(
                F.lit(batch).cast("long").alias("batch_id"),
                F.col("partition_id"),
                F.lit(n_elig).cast("long").alias("rows_in"),
                F.col("rows_fetched").cast("long"),
                F.col("rows_ok").cast("long").alias("rows_deduped"),
                F.lit(n_admitted).cast("long").alias("rows_admitted"),
                F.lit(datetime.datetime.now(datetime.timezone.utc).isoformat()).alias("commit_ts"),
                F.lit("lineage").alias("_op"),
            )
        )
        journal_df = (
            rm_rows.unionByName(add_rows)
            .withColumn("_b", F.lit(batch).cast("long"))
            .unionByName(lineage, allowMissingColumns=True)
        )
        # OVERLAP the journal write with the rest of the batch: it reads
        # only the cached frontier and the fetched parquet, and must be on
        # disk only before the next manifest commit (a torn journal above
        # the last manifest is rolled back on resume). With the previous
        # journal joined, the superseded checkpoints have no reader left.
        st.resolve("journal")
        st.release()
        st.submit("journal", store.write_table, journal_df, batch, "frontier_delta")

        if pol.autothrottle:
            # EWMA update from this batch's observed latencies (all
            # scheduled fetches of the host)
            obs = fetched.groupBy("host").agg(F.avg("latency_class").alias("_m"))
            host_lat = st.host_lat.join(obs, "host", "full").select(
                "host",
                F.when(
                    F.col("ewma").isNotNull() & F.col("_m").isNotNull(),
                    F.lit(pol.ewma_alpha) * F.col("_m") + F.lit(1.0 - pol.ewma_alpha) * F.col("ewma"),
                ).when(F.col("_m").isNotNull(), F.col("_m")).otherwise(F.col("ewma")).alias("ewma"),
                F.when(F.col("_m").isNotNull(), F.lit(batch).cast("long"))
                .otherwise(F.col("last_b")).alias("last_b"),
            )
            if pol.autothrottle_ttl_batches:
                # TTL eviction: hosts idle > ttl batches leave the state,
                # so it is bounded by the trailing active-host window; the
                # EWMA re-seeds on return (oracle.py: the same rule)
                host_lat = host_lat.where(
                    F.lit(batch) - F.col("last_b") <= F.lit(pol.autothrottle_ttl_batches))
            # LAZY: the next batch's fetch job materializes it, and lineage
            # is truncated so chains never deepen across batches
            st.replace("host_lat", host_lat.localCheckpoint(eager=False))

        if pol.use_bloom and (n_admitted_rows or st.bloom is None):
            # a batch that admitted nothing (common in the thin tail) adds
            # no seen rows, so it skips the delta build + merge. A fresh
            # run has no bloom yet: its seed admissions join this delta.
            # Built and checkpointed in the background; resolved before
            # the next batch's admission consumes the bloom
            urls = admitted_r.select("url_norm")
            if st.bloom is None:
                urls = urls.unionByName(store.read_table(spark, -1, "admitted").select("url_norm"))
            st.submit("bloom", self._grow_bloom, st.bloom, urls)

        stop = self.stop_after_batch is not None and batch >= self.stop_after_batch
        durable = stop or pol.checkpoint_every <= 1 or batch % pol.checkpoint_every == 0
        if durable:
            self._commit(batch, snapshot=batch % pol.frontier_snapshot_every == 0)
            # not at batch 0: a fresh crawl's seen set is one delta old
            if pol.compact_seen_every and batch > 0 and batch % pol.compact_seen_every == 0:
                store.compact_seen(spark, batch, n_buckets=int(
                    spark.conf.get("spark.sql.shuffle.partitions")))
        seconds = round(time.time() - t0, 2)
        self.batch_seconds.append(seconds)
        st.batch, self.done = batch + 1, stop
        return BatchReport(batch, seconds)

    def close(self, ok: bool = True) -> None:
        """When ``ok``: make the final commit (the terminal state is always
        durable) and join every background job, re-raising its failure.
        Always: stop the pool and release the cache."""
        st = self.state
        if st is None:
            return
        try:
            if ok:
                if st.batch - 1 > st.last_committed:
                    self._commit(st.batch - 1, snapshot=True)
                for name in list(st.futures):
                    st.resolve(name)
        finally:
            st.close()

    def result(self) -> CrawlRunResult:
        return CrawlRunResult(
            self.store, self.state.last_committed, self.batch_seconds,
            self.policy.max_failed_pages, self.default_cap,
            out_hashes=self.state.acc if self.drained else None,
        )


def run_crawl(
    spark: SparkSession, cfg: synth.SynthConfig, seeds: list[dict],
    robots_rules: DataFrame, checkpoint_dir: str,
    policy: CrawlPolicy = CrawlPolicy(), resume: bool = False,
    stop_after_batch: int | None = None, fetcher=None, before_step=None,
) -> CrawlRunResult:
    """Run (or resume) the crawl to completion: open a CrawlLoop, step it
    until no batch is left, close it. ``stop_after_batch`` kills the loop
    right after committing that batch — used by the resume tests.

    ``fetcher(scheduled_df, n_rows_hint) -> DataFrame`` swaps the fetch
    transport (default: the deterministic synthetic web; pass
    ``operators.http_fetch.fetch_scheduled_http`` for real HTTP) — the
    loop's politeness/admission/seen/checkpoint machinery is
    transport-agnostic, it only needs the fetch output schema.

    ``before_step()`` is called before every batch and may block until
    that batch is due; returning False ends the run, with the final
    commit. It is the hook the streaming driver paces its ticks with."""
    with CrawlLoop(
        spark, cfg, seeds, robots_rules, checkpoint_dir, policy,
        resume, stop_after_batch, fetcher,
    ) as loop:
        while not loop.done and (before_step is None or before_step()):
            loop.step()
    return loop.result()
