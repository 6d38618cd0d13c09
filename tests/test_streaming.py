"""Structured Streaming surfaces: ticker-driven crawl + event-time rollup."""

from pyspark.sql import functions as F

from crawler_distributed_spark import synth
from crawler_distributed_spark.oracle import run_oracle
from crawler_distributed_spark.policy import CrawlPolicy
from crawler_distributed_spark.streaming.stream_loop import (
    stream_crawl,
    stream_events_rollup,
)

CFG = synth.SynthConfig(n_hosts=2, pages_base=8, hot_factor=2, branching=4)
SEEDS = synth.seed_rows(CFG, max_pages=5)


def test_stream_crawl_matches_oracle(spark, tmp_path):
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    res = stream_crawl(spark, CFG, SEEDS, robots, str(tmp_path / "ck"), CrawlPolicy())
    assert res is not None
    oracle = run_oracle(CFG, SEEDS, CrawlPolicy())
    trace = sorted(
        (r.crawl_id, r.batch_id, r.seq_in_batch, r.url_norm, r.host, r.depth)
        for r in res.trace(spark).collect()
    )
    assert trace == sorted(oracle.trace)


def test_stream_crawl_kill_resume(spark, tmp_path):
    """r3 #6: the Structured-Streaming wrapper is gated like the batch
    loop. Phase 1 kills the ticker deterministically after batch 2 (the
    streaming stop_after_batch switch). A torn batch=3 directory is then
    scribbled into the checkpoint — parquet data written, manifest never
    renamed — simulating a crash mid-foreachBatch. A second stream_crawl
    on the same checkpoint must roll the torn batch back (manifest
    protocol, not the streaming checkpoint, is the commit point) and
    finish with trace + seen exactly equal to the pure-Python oracle —
    i.e. hash-equal to the batch loop, which is gated against the same
    oracle in tests/test_trace_equality.py."""
    import os

    ck = str(tmp_path / "skr_ck")
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    partial = stream_crawl(
        spark, CFG, SEEDS, robots, ck, CrawlPolicy(), stop_after_batch=2
    )
    assert partial is not None and partial.last_batch == 2
    # torn write: data for batch 3 exists, manifest does not
    torn = os.path.join(ck, "batches", "batch=3", "fetched")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00not a real parquet footer")
    res = stream_crawl(spark, CFG, SEEDS, robots, ck, CrawlPolicy())
    # the torn dir was rolled back before replay: our junk file is gone
    # (a re-executed batch writes Spark-named part files, never this name;
    # on this corpus batches 3-7 are empty backoff-gap batches and leave
    # no dir at all), and the resumed run committed past the kill point
    assert not os.path.exists(os.path.join(torn, "part-00000.parquet"))
    assert res.last_batch > 2
    assert os.path.exists(
        os.path.join(ck, "batches", f"batch={res.last_batch}", "manifest.json")
    )
    oracle = run_oracle(CFG, SEEDS, CrawlPolicy())
    trace = sorted(
        (r.crawl_id, r.batch_id, r.seq_in_batch, r.url_norm, r.host, r.depth)
        for r in res.trace(spark).collect()
    )
    assert trace == sorted(oracle.trace)
    seen = {}
    for r in res.seen(spark).collect():
        seen.setdefault(r.crawl_id, set()).add(r.url_norm)
    assert seen == oracle.seen


def _assert_oracle_equal(spark, res):
    oracle = run_oracle(CFG, SEEDS, CrawlPolicy())
    trace = sorted(
        (r.crawl_id, r.batch_id, r.seq_in_batch, r.url_norm, r.host, r.depth)
        for r in res.trace(spark).collect()
    )
    assert trace == sorted(oracle.trace)
    seen = {}
    for r in res.seen(spark).collect():
        seen.setdefault(r.crawl_id, set()).add(r.url_norm)
    assert seen == oracle.seen


def test_stream_crawl_failure_raises_then_resumes(spark, tmp_path):
    """A batch that fails under the streaming driver raises out of
    stream_crawl within seconds (the driver must not poll a dead query),
    and the checkpoint it leaves resumes to the oracle. ``max_ticks``
    counts ticks: a one-tick stream runs exactly one batch."""
    import time

    import pytest

    from crawler_distributed_spark.operators.fetch import fetch_scheduled

    ck = str(tmp_path / "fail_ck")
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    calls = []

    def failing_fetcher(scheduled, hint):
        calls.append(time.time())
        if len(calls) == 2:  # batch 1
            raise RuntimeError("injected fetch failure")
        return fetch_scheduled(scheduled, CFG, n_rows_hint=hint)

    with pytest.raises(RuntimeError, match="injected fetch failure"):
        stream_crawl(spark, CFG, SEEDS, robots, ck, fetcher=failing_fetcher)
    assert time.time() - calls[-1] < 30
    one = stream_crawl(spark, CFG, SEEDS, robots, ck, max_ticks=1)
    assert one.last_batch == 1
    _assert_oracle_equal(spark, stream_crawl(spark, CFG, SEEDS, robots, ck))


def test_stream_crawl_reads_no_state_from_disk(spark, tmp_path, monkeypatch):
    """One loop stays open across ticks: under the default policy a fresh
    stream never reads the frontier or the seen set back from disk, apart
    from the periodic seen-set compaction, which rewrites it by design and
    does not run at batch 0. It still equals the oracle. Every tick
    commits its batch, even under a sparse checkpoint_every."""
    import os

    from crawler_distributed_spark.storage import BatchStore

    reads, compacting, compacted = [], [], []
    for name in ("read_frontier", "read_seen"):
        real = getattr(BatchStore, name)

        def read(self, *a, _n=name, _f=real, **k):
            if not compacting:
                reads.append(_n)
            return _f(self, *a, **k)

        monkeypatch.setattr(BatchStore, name, read)
    real_compact = BatchStore.compact_seen

    def compact(self, spark_, upto, **k):
        compacting.append(upto)
        try:
            return real_compact(self, spark_, upto, **k)
        finally:
            compacted.append(compacting.pop())

    monkeypatch.setattr(BatchStore, "compact_seen", compact)
    pol = CrawlPolicy(checkpoint_every=3)
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    res = stream_crawl(spark, CFG, SEEDS, robots, str(tmp_path / "ck"), pol)
    assert len(res.batch_seconds) >= 3
    assert reads == []
    # the stream runs past a compaction point, so the exemption is used
    assert compacted and all(b > 0 and b % pol.compact_seen_every == 0 for b in compacted)
    monkeypatch.undo()
    _assert_oracle_equal(spark, res)
    batches = {r.batch_id for r in res.trace(spark).select("batch_id").collect()}
    assert all(os.path.exists(res.store.manifest_path(b)) for b in batches)


def test_stream_events_rollup(spark, tmp_path):
    import os

    path = "/root/testdata/sf0.001/events.parquet"
    # the streaming file source wants a directory; point one at the file
    stream_dir = tmp_path / "events"
    stream_dir.mkdir()
    os.symlink(path, stream_dir / "events.parquet")
    schema = spark.read.parquet(path).schema
    q = stream_events_rollup(spark, str(stream_dir), schema, query_name="ev_test")
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM ev_test").collect()
    assert got
    # oracle: same rollup as a plain batch query
    want = {
        (r.window_start, r.event_type): (r.n, r.total)
        for r in spark.read.parquet(path)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
        .collect()
    }
    got_map = {(r.window_start, r.event_type): (r.n, r.total) for r in got}
    assert got_map == want


def test_stream_host_sessions(spark, tmp_path):
    """applyInPandasWithState sessionization: state crosses micro-batches;
    closed sessions match a pure-Python oracle; arrival order and
    parallelism never change the output (boundaries are data-defined)."""
    import datetime

    from crawler_distributed_spark.streaming.stateful import stream_host_sessions

    base = datetime.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    # deterministic synthetic feed: 3 hosts, gaps of 10s within sessions,
    # 2h gaps between them (gap_seconds=1800 closes on the 2h jumps)
    for h in range(3):
        t = base + datetime.timedelta(minutes=h)
        for sess in range(3 + h):
            for k in range(2 + (h + sess) % 3):
                rows.append((f"host{h}.example", eid, t))
                eid += 1
                t += datetime.timedelta(seconds=10)
            t += datetime.timedelta(hours=2)
    feed = tmp_path / "feed"
    feed.mkdir()
    schema = "host string, event_id long, ts timestamp"
    # 4 time-range files with increasing mod times: per-host arrival stays
    # time-ordered ACROSS micro-batches (the standard file-source
    # assumption for stateful sessionization) while rows WITHIN each file
    # are hash-shuffled — the handler's in-batch sort must fix that
    import time as _time

    rows_sorted = sorted(rows, key=lambda r: r[2])
    qsize = (len(rows_sorted) + 3) // 4
    for i in range(4):
        chunk = rows_sorted[i * qsize : (i + 1) * qsize]
        (
            spark.createDataFrame(chunk, schema)
            .orderBy(F.xxhash64("event_id"))
            .coalesce(1)
            .write.parquet(str(feed / "p"), mode="append")
        )
        _time.sleep(1.1)  # distinct mod times -> deterministic file order
    # one file per trigger -> 4 micro-batches: per-host state must
    # genuinely survive across invocations, not just within one batch
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed / "p"))
    )
    q = stream_host_sessions(stream, gap_seconds=1800, query_name="sess_test")
    q.awaitTermination(120)
    got = {
        (r.host, r.session_start, r.session_end): r.n_events
        for r in spark.sql("SELECT * FROM sess_test").collect()
    }
    # pure-Python oracle over the same rows
    want = {}
    by_host = {}
    for h, e, t in rows:
        by_host.setdefault(h, []).append((t, e))
    for h, evs in by_host.items():
        evs.sort()
        start = last = None
        n = 0
        for t, _ in evs:
            if start is None:
                start, last, n = t, t, 1
            elif (t - last).total_seconds() <= 1800:
                last, n = t, n + 1
            else:
                want[(h, start, last)] = n
                start, last, n = t, t, 1
        # the final open session is never emitted (stays in state)
    assert got == want
    assert len(got) >= 9  # every host closed at least (sessions-1) sessions
