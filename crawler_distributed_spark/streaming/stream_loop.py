"""Structured Streaming drivers (SURVEY.md §2.9, §7 step 3).

Two surfaces:

1. ``stream_crawl`` — the frontier loop driven by a Structured Streaming
   ticker: a rate source fires micro-batches and each one advances ONE
   open plans/frontier_loop.CrawlLoop by one crawl batch. The loop opens
   (initializes or resumes) once per stream, not once per tick, so a tick
   costs one batch, not a resume of the whole seen set. Its commit
   discipline is the batch loop's: the batch store is the state, a tick
   that crashes mid-batch is rolled back and replayed by the next stream
   on the same checkpoint, so exactly-once falls out of the manifest
   protocol, not the streaming checkpoint. The reference has no
   event-time semantics to preserve — its "streaming" is a beanstalkd
   poll loop (crawler/worker/crawl_job_listener.py:126-360).

2. ``stream_events_rollup`` — a genuine event-time pipeline over an events
   stream (watermark + windowed aggregation), the pattern a training-data
   pipeline uses for click/impression-style feeds.
"""

from __future__ import annotations

import dataclasses
import queue
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import synth
from ..plans.frontier_loop import CrawlRunResult, run_crawl
from ..policy import CrawlPolicy


def stream_crawl(
    spark: SparkSession,
    cfg: synth.SynthConfig,
    seeds: list[dict],
    robots_rules: DataFrame,
    checkpoint_dir: str,
    policy: CrawlPolicy = CrawlPolicy(),
    max_ticks: int = 10_000,
    stop_after_batch: int | None = None,
    fetcher=None,
) -> CrawlRunResult:
    """Drive the crawl via a streaming ticker; returns when the frontier
    drains, after ``stop_after_batch``, or after ``max_ticks`` ticks.

    One ``run_crawl(resume=True)`` call serves the whole stream: it opens
    the loop once (fresh, or from the checkpoint's last commit) and runs
    one batch per micro-batch through its ``before_step`` hook. The
    tick's foreachBatch callback blocks until its batch has committed
    (every tick commits, whatever ``policy.checkpoint_every`` says), so
    one micro-batch covers exactly one crawl batch. A failed batch raises
    here at once; so does a ticker query that dies. ``fetcher`` passes
    through to run_crawl (the real-HTTP transport swap works under the
    streaming driver too).

    ``stop_after_batch`` is the deterministic kill switch (same contract
    as the batch loop's): no batch past it starts, leaving a mid-crawl
    checkpoint a second ``stream_crawl`` on the same directory resumes
    from — the kill/resume equality gate in tests/test_streaming.py runs
    through this."""
    ticks: queue.Queue = queue.Queue()  # one "batch committed" event per tick
    closed = threading.Event()

    def tick(_df: DataFrame, _epoch: int) -> None:
        if closed.is_set():
            return
        committed = threading.Event()
        ticks.put(committed)
        while not (committed.wait(0.2) or closed.is_set()):
            pass

    held: threading.Event | None = None  # the tick whose batch is running
    n_ticks = 0

    def next_tick() -> bool:
        """Release the tick whose batch just committed, then wait for the
        next one; False once ``max_ticks`` ticks have run."""
        nonlocal held, n_ticks
        if held is not None:
            held.set()
            held = None
        if n_ticks >= max_ticks:
            return False
        while held is None:
            if not q.isActive:
                raise q.exception() or RuntimeError("the ticker query stopped")
            try:
                held = ticks.get(timeout=0.2)
            except queue.Empty:
                pass
        n_ticks += 1
        return True

    ticker = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    q = (
        ticker.writeStream.foreachBatch(tick)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        return run_crawl(
            spark, cfg, seeds, robots_rules, checkpoint_dir,
            dataclasses.replace(policy, checkpoint_every=1), resume=True,
            stop_after_batch=stop_after_batch, fetcher=fetcher, before_step=next_tick,
        )
    finally:
        closed.set()
        q.stop()


def stream_events_rollup(
    spark: SparkSession,
    events_path: str,
    schema,
    window: str = "1 hour",
    watermark: str = "2 hours",
    query_name: str = "events_rollup",
):
    """Event-time windowed rollup over a parquet-fed stream: watermarked
    count + sum(value) per (window, event_type). Returns the started query;
    callers use processAllAvailable() + spark.sql(f"SELECT * FROM {name}")
    for batch-complete smoke (memory sink)."""
    stream = (
        spark.readStream.schema(schema)
        .parquet(events_path)
        # parquet NTZ timestamps must become session-TZ timestamps before
        # they can carry a watermark
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )
    # complete mode so a one-shot availableNow run emits every window even
    # though the watermark never advances past the last event (append mode
    # would hold all windows open on a finite replay)
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
