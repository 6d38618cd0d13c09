"""The north-rule correctness gate: engine vs pure-Python oracle.

Asserts (BASELINE.json): identical crawl-ordering trace, identical final
URL-seen set, span-sequence equality per doc_id, and exact resume from a
mid-crawl checkpoint kill.
"""

import pytest

from crawler_distributed_spark import synth
from crawler_distributed_spark.oracle import run_oracle
from crawler_distributed_spark.plans.frontier_loop import run_crawl
from crawler_distributed_spark.policy import CrawlPolicy

CFG = synth.SynthConfig(n_hosts=3, pages_base=12, hot_factor=3, branching=4)
SEEDS = synth.seed_rows(CFG, max_pages=8)
POLICY = CrawlPolicy()


@pytest.fixture(scope="module")
def oracle_result():
    return run_oracle(CFG, SEEDS, POLICY)


@pytest.fixture(scope="module")
def engine_result(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("crawl_ckpt"))
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    return run_crawl(spark, CFG, SEEDS, robots, d, POLICY)


def _engine_trace(spark, res):
    return sorted(
        (
            (r.crawl_id, r.batch_id, r.seq_in_batch, r.url_norm, r.host, r.depth)
            for r in res.trace(spark).collect()
        ),
        key=lambda t: (t[1], t[0], t[2]),
    )


def test_trace_equality(spark, engine_result, oracle_result):
    engine = _engine_trace(spark, engine_result)
    oracle = sorted(oracle_result.trace, key=lambda t: (t[1], t[0], t[2]))
    assert engine == oracle


def test_seen_set_equality(spark, engine_result, oracle_result):
    seen = {}
    for r in engine_result.seen(spark).collect():
        seen.setdefault(r.crawl_id, set()).add(r.url_norm)
    assert seen == oracle_result.seen


def test_robots_blocked_equality(spark, engine_result, oracle_result):
    blocked = {}
    for r in engine_result.blocked(spark).collect():
        blocked.setdefault(r.crawl_id, set()).add(r.url_norm)
    want = {c: s for c, s in oracle_result.robots_blocked.items() if s}
    assert blocked == want


def test_pages_crawled_equality(spark, engine_result, oracle_result):
    assert engine_result.pages_dict(spark) == oracle_result.pages_crawled


def test_span_sequence_equality(spark, engine_result):
    """Per-row invariant (BASELINE.json input_hint): the (kind, text,
    media_ref, order) sequence per doc_id equals the synthetic ground
    truth, order = array position, offsets strictly increasing."""
    docs = engine_result.docs(spark)
    assert docs is not None
    rows = docs.select("url_norm", "doc_id", "spans").collect()
    assert rows
    for r in rows:
        want = synth.spans_of(CFG, r.url_norm)
        got = [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        assert got == want, r.url_norm
        offsets = [s.offset for s in r.spans]
        assert offsets == sorted(offsets)
        assert len(set(offsets)) == len(offsets)
        if synth.content_type_of(CFG, r.url_norm) == "text/html":
            assert r.doc_id == synth.doc_id_of(r.url_norm)
        else:
            # F6: xml/plain accepted pages are stored without spans/doc_id
            assert r.doc_id is None and not r.spans


def test_lineage_recorded(spark, engine_result):
    lin = engine_result.lineage(spark)
    assert lin is not None
    rows = lin.collect()
    assert rows
    assert {r.batch_id for r in rows}  # per-batch, per-partition rows exist
    assert all(r.rows_fetched >= 0 for r in rows)


def test_f6_nonhtml_accepted_pages_counted(oracle_result):
    """F6 (content_filter_middleware.py:43-51): xml/text-plain 200s are
    accepted pages — the corpus contains at least one, and it consumed
    budget (pins the widened allowlist against regression)."""
    nonhtml = [
        u
        for (_, _, _, u, _, _) in oracle_result.trace
        if synth.status_of(CFG, u, 2) == 200
        and synth.content_type_of(CFG, u) in ("application/xml", "text/plain")
        and synth.is_sitemap_url(CFG, u) is None
        and synth.is_robots_url(CFG, u) is None
    ]
    assert nonhtml, "corpus should fetch at least one non-html accepted page"


def test_compaction_and_resume_across_it(spark, tmp_path, oracle_result, monkeypatch):
    """Aggressive seen-set compaction (every 2 batches) + a kill/resume
    straddling a compaction point must still produce the exact oracle
    trace and seen set — compaction is a pure read-layout change. No copy
    is made at batch 0, where the seen set is the seeds plus one delta."""
    import os

    from crawler_distributed_spark.storage import BatchStore

    compacted_upto = []
    real = BatchStore.compact_seen
    monkeypatch.setattr(
        BatchStore, "compact_seen",
        lambda self, spark, upto, **k: compacted_upto.append(upto) or real(self, spark, upto, **k),
    )
    policy = CrawlPolicy(compact_seen_every=2)
    d = str(tmp_path / "ck")
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    run_crawl(spark, CFG, SEEDS, robots, d, policy, stop_after_batch=3)
    res = run_crawl(spark, CFG, SEEDS, robots, d, policy, resume=True)
    assert compacted_upto and 0 not in compacted_upto
    # a compacted copy exists and is actually the one being read
    comp = res.store.compacted_dir()
    assert os.path.isdir(comp) and any(
        n.startswith("upto=") for n in os.listdir(comp)
    )
    etrace = _engine_trace(spark, res)
    assert etrace == sorted(oracle_result.trace, key=lambda t: (t[1], t[0], t[2]))
    seen = {}
    for r in res.seen(spark).collect():
        seen.setdefault(r.crawl_id, set()).add(r.url_norm)
    assert seen == oracle_result.seen


def test_resume_from_checkpoint(spark, tmp_path, oracle_result):
    """Kill after batch 1, resume, and require bit-identical final state
    (north rule: 'a killed job resumes exactly')."""
    d = str(tmp_path / "ckpt")
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    partial = run_crawl(spark, CFG, SEEDS, robots, d, POLICY, stop_after_batch=1)
    assert partial.last_batch == 1
    res = run_crawl(spark, CFG, SEEDS, robots, d, POLICY, resume=True)

    engine = _engine_trace(spark, res)
    oracle = sorted(oracle_result.trace, key=lambda t: (t[1], t[0], t[2]))
    assert engine == oracle
    seen = {}
    for r in res.seen(spark).collect():
        seen.setdefault(r.crawl_id, set()).add(r.url_norm)
    assert seen == oracle_result.seen


def test_autothrottle_trace_equality(spark, tmp_path):
    """P2 equality gate: with autothrottle on, the per-host EWMA latency
    state scales next-batch quotas (engine: frontier_loop host_lat +
    select_fetch_batch host_quotas; AutoThrottle made batch-deterministic)
    — engine and oracle must still agree on trace AND seen set, and the
    throttle must actually have engaged (schedule differs from default)."""
    pol = CrawlPolicy(autothrottle=True, quota_per_host=3)
    d = str(tmp_path / "at_ckpt")
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    eng = run_crawl(spark, CFG, SEEDS, robots, d, pol)
    orc = run_oracle(CFG, SEEDS, pol)
    assert _engine_trace(spark, eng) == sorted(
        orc.trace, key=lambda t: (t[1], t[0], t[2])
    )
    seen = {}
    for r in eng.seen(spark).collect():
        seen.setdefault(r.crawl_id, set()).add(r.url_norm)
    assert seen == orc.seen
    # throttling engaged: the ordering differs from the unthrottled run
    base = run_oracle(CFG, SEEDS, CrawlPolicy(quota_per_host=3))
    assert orc.trace != base.trace


def test_autothrottle_ttl_eviction(spark, tmp_path):
    """P2 state hygiene (r3 #8): with autothrottle_ttl_batches set, a host
    idle for more than ttl batches is EVICTED from the EWMA state and its
    EWMA re-seeds from the first observed batch mean when it returns — so
    host_lat is bounded by the trailing active-host window, not the 10^8
    lifetime host count. Three gates: (1) engine trace+seen still equal
    the oracle with eviction ON; (2) eviction is semantics-bearing on this
    workload (trace differs from the never-evict run — the re-seeded EWMA
    changes a later quota); (3) the persisted hostlat state only holds
    hosts observed within the ttl window (bounded), strictly fewer than
    the hosts the crawl ever touched."""
    cfg = synth.SynthConfig(n_hosts=6, pages_base=30, hot_factor=2, branching=3)
    seeds = synth.seed_rows(cfg, max_pages=20)
    pol = CrawlPolicy(autothrottle=True, quota_per_host=2, autothrottle_ttl_batches=2)
    robots = spark.createDataFrame(synth.robots_rule_rows(cfg))
    eng = run_crawl(spark, cfg, seeds, robots, str(tmp_path / "ttl_ck"), pol)
    orc = run_oracle(cfg, seeds, pol)
    assert _engine_trace(spark, eng) == sorted(
        orc.trace, key=lambda t: (t[1], t[0], t[2])
    )
    seen = {}
    for r in eng.seen(spark).collect():
        seen.setdefault(r.crawl_id, set()).add(r.url_norm)
    assert seen == orc.seen
    # (2) the eviction actually rewrote history on this workload
    no_ttl = run_oracle(
        cfg, seeds,
        CrawlPolicy(autothrottle=True, quota_per_host=2, autothrottle_ttl_batches=0),
    )
    assert orc.trace != no_ttl.trace
    # (3) bounded state: every surviving row is within the ttl window of
    # the final batch, and hosts that went idle early are gone
    hl = eng.store.read_table(spark, eng.last_batch, "hostlat").collect()
    hosts_ever = {t[4] for t in orc.trace}
    assert 0 < len(hl) < len(hosts_ever)
    assert all(eng.last_batch - r.last_b <= pol.autothrottle_ttl_batches for r in hl)


def test_scale_paths_trace_equality(spark, tmp_path):
    """Force the at-scale physical paths on the small corpus: salted
    two-phase politeness pre-filter (salt_threshold=0) AND the two-phase
    range-sort sequence assignment (seq_singlepart_threshold=0). Both
    must be semantics-identical to the small-batch paths — engine trace
    and seen set still equal the oracle exactly. (The default thresholds
    mean pytest otherwise never executes these operators; the 10^6-URL
    scaling runs do, but only hash-compare against themselves.)"""
    pol = CrawlPolicy(salt_threshold=0, seq_singlepart_threshold=0)
    d = str(tmp_path / "scale_ck")
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    eng = run_crawl(spark, CFG, SEEDS, robots, d, pol)
    orc = run_oracle(CFG, SEEDS, CrawlPolicy())  # thresholds are physical-only
    assert _engine_trace(spark, eng) == sorted(
        orc.trace, key=lambda t: (t[1], t[0], t[2])
    )
    seen = {}
    for r in eng.seen(spark).collect():
        seen.setdefault(r.crawl_id, set()).add(r.url_norm)
    assert seen == orc.seen


def test_sparse_checkpoint_bloom_off_resume(spark, tmp_path, oracle_result):
    """checkpoint_every=3 (sparse frontier/state commits) with the bloom
    pre-filter disabled (plain seen anti-join), killed at batch 4 and
    resumed: final trace + seen set still equal the oracle. Exercises two
    otherwise-untested paths: the non-bloom admission join and resume
    from a sparse commit schedule."""
    pol = CrawlPolicy(checkpoint_every=3, use_bloom=False)
    d = str(tmp_path / "sparse_ck")
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    partial = run_crawl(spark, CFG, SEEDS, robots, d, pol, stop_after_batch=4)
    assert partial.last_batch == 4
    res = run_crawl(spark, CFG, SEEDS, robots, d, pol, resume=True)
    assert _engine_trace(spark, res) == sorted(
        oracle_result.trace, key=lambda t: (t[1], t[0], t[2])
    )
    seen = {}
    for r in res.seen(spark).collect():
        seen.setdefault(r.crawl_id, set()).add(r.url_norm)
    assert seen == oracle_result.seen


def test_final_frontier_state_and_health(spark, tmp_path):
    """A4 queue-health surface: on a max_batches-truncated run the
    engine's purged final frontier must equal the oracle's remaining
    queue as a (crawl, url, attempts, not_before) multiset, and the
    health view must aggregate it with the right budget/status."""
    pol = CrawlPolicy(max_batches=4)
    d = str(tmp_path / "hlth_ck")
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    eng = run_crawl(spark, CFG, SEEDS, robots, d, pol)
    orc = run_oracle(CFG, SEEDS, pol)
    got = sorted(
        (r.crawl_id, r.url_norm, int(r.attempts), int(r.not_before_batch))
        for r in eng.frontier_left(spark).collect()
    )
    want = [(c, u, int(a), int(nb)) for (c, u, a, nb) in orc.frontier_left]
    assert got == want
    assert got, "truncated run must leave frontier rows (else this is vacuous)"
    health = {r.crawl_id: r for r in eng.health(spark).collect()}
    for cid, pages in orc.pages_crawled.items():
        h = health[cid]
        left = [e for e in orc.frontier_left if e[0] == cid]
        assert (h.pages, h.failed) == (pages, orc.failed_pages[cid])
        assert h.queued == len(left)
        assert h.retry_backlog == sum(1 for e in left if e[2] > 0)
        assert h.delayed == sum(1 for e in left if e[3] > eng.last_batch)
        if pages >= 8:
            assert h.status == "completed"
        elif left:
            assert h.status == "waiting"


@pytest.mark.parametrize("seq_threshold", [20_000, 0])
def test_per_crawl_batch_budget(spark, tmp_path, seq_threshold):
    """Q6 CLOSESPIDER_TIMEOUT analog (settings.py:75-76), deterministic:
    one crawl carries max_batches=2 and must stop scheduling AND admitting
    from batch 2 on while the others run to completion — engine ≡ oracle
    on trace and seen set, and the cap actually cut the crawl short.

    The capped crawl admits at batch 1 and is purged right after, so its
    rows are stamped but never reach the frontier: later batches must
    hand out seqs past them, not reuse ones live rows hold, because
    discovery_seq is the frontier's row key (the fetched anti-join, the
    journal and read_frontier's replay all merge rows by it). Run under
    both stamps (window; two-phase with_sequence at threshold 0), killed
    after batch 2 and resumed; every seq ever journalled names one URL.
    (At max_pages=8 the later batches admit too little to reach a reused
    seq; 16 does.)"""
    import glob
    import os

    seeds = [dict(s) for s in synth.seed_rows(CFG, max_pages=16)]
    seeds[0]["max_batches"] = 2
    d = str(tmp_path / "cap_ck")
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    pol = CrawlPolicy(seq_singlepart_threshold=seq_threshold)
    partial = run_crawl(spark, CFG, seeds, robots, d, pol, stop_after_batch=2)
    assert partial.last_batch == 2
    eng = run_crawl(spark, CFG, seeds, robots, d, pol, resume=True)
    orc = run_oracle(CFG, seeds, POLICY)
    _assert_oracle_equal(spark, eng, orc)
    cid = seeds[0]["crawl_id"]
    # the purge case: the capped crawl admitted rows in its last batch
    assert eng.seen(spark).where(f"crawl_id = '{cid}' AND first_seen_batch = 1").count()
    capped = [t for t in orc.trace if t[0] == cid]
    assert capped and max(t[1] for t in capped) < 2, "no fetch at/after the cap"
    # the cap was load-bearing: the uncapped run fetches strictly more
    base = run_oracle(CFG, synth.seed_rows(CFG, max_pages=16), POLICY)
    assert len([t for t in base.trace if t[0] == cid]) > len(capped)
    cols = ["discovery_seq", "crawl_id", "url_norm"]
    snaps = glob.glob(os.path.join(d, "batches", "*", "frontier"))
    deltas = glob.glob(os.path.join(d, "batches", "*", "frontier_delta"))
    rows = spark.read.parquet(*snaps).select(*cols).unionByName(
        spark.read.parquet(*deltas).where("_op = 'add'").select(*cols)
    )
    shared = rows.distinct().groupBy("discovery_seq").count().where("count > 1")
    assert not shared.collect(), "a seq names more than one URL"


def test_dirty_checkpoint_refused(spark, tmp_path):
    """Re-running a crawl into a checkpoint that already has committed
    state without resume=True must fail loudly (never silently clobber
    or double-crawl)."""
    import pytest as _pytest

    d = str(tmp_path / "dirty_ck")
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    run_crawl(spark, CFG, SEEDS, robots, d, POLICY, stop_after_batch=1)
    with _pytest.raises(ValueError, match="already has state"):
        run_crawl(spark, CFG, SEEDS, robots, d, POLICY)


def test_resume_from_pure_delta_replay(spark, tmp_path, oracle_result):
    """frontier_snapshot_every huge -> after init (-1) no snapshot is ever
    written mid-run; a kill at batch 2 forces resume to reconstruct the
    frontier purely by replaying delta files (including retry rows that
    were removed and re-added with bumped attempts). Final state must
    still equal the oracle exactly. (stop_after_batch must name an
    EXECUTED batch — empty backoff-gap batches skip the stop check.)"""
    pol = CrawlPolicy(frontier_snapshot_every=10_000)
    d = str(tmp_path / "delta_ck")
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    partial = run_crawl(spark, CFG, SEEDS, robots, d, pol, stop_after_batch=2)
    assert partial.last_batch == 2
    import os

    assert not os.path.isdir(
        os.path.join(d, "batches", "batch=2", "frontier")
    ), "no snapshot expected at the kill batch"
    res = run_crawl(spark, CFG, SEEDS, robots, d, pol, resume=True)
    assert _engine_trace(spark, res) == sorted(
        oracle_result.trace, key=lambda t: (t[1], t[0], t[2])
    )
    seen = {}
    for r in res.seen(spark).collect():
        seen.setdefault(r.crawl_id, set()).add(r.url_norm)
    assert seen == oracle_result.seen


def test_out_hashes_match_full_scan(spark, engine_result):
    """The observe()-accumulated output hashes (CrawlRunResult.out_hashes,
    the r4 floor-cut: scaling_run pays ZERO final aggregation jobs) must
    equal the full trace/seen scans bit-for-bit — bit_xor is associative
    and commutative, so the XOR of per-batch bit_xors is the table scan."""
    from pyspark.sql import functions as F

    oh = engine_result.out_hashes
    assert oh is not None
    agg = engine_result.trace(spark).agg(
        F.count("*").alias("n"),
        F.expr(
            "bit_xor(xxhash64(crawl_id, batch_id, seq_in_batch, url_norm, depth))"
        ).alias("h"),
    ).collect()[0]
    assert (oh["trace_rows"], oh["trace_hash"]) == (agg["n"], int(agg["h"]))
    seen = engine_result.seen(spark).agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(crawl_id, url_norm))").alias("h"),
    ).collect()[0]
    assert (oh["seen_rows"], oh["seen_hash"]) == (seen["n"], int(seen["h"]))


def test_resumed_run_has_no_out_hashes(spark, tmp_path):
    """A resumed run cannot cheaply reconstruct prior batches' hash
    contributions — it must return out_hashes=None (callers fall back to
    the full scan) rather than a silently partial accumulation."""
    d = str(tmp_path / "oh_resume")
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    pol = CrawlPolicy(checkpoint_every=1)
    part = run_crawl(spark, CFG, SEEDS, robots, d, pol, stop_after_batch=1)
    assert part.out_hashes is None
    full = run_crawl(spark, CFG, SEEDS, robots, d, pol, resume=True)
    assert full.out_hashes is None


def _assert_oracle_equal(spark, res, oracle):
    assert _engine_trace(spark, res) == sorted(
        oracle.trace, key=lambda t: (t[1], t[0], t[2])
    )
    seen = {}
    for r in res.seen(spark).collect():
        seen.setdefault(r.crawl_id, set()).add(r.url_norm)
    assert seen == oracle.seen


@pytest.mark.parametrize("buckets", [16, 64])
def test_bloom_split_at_any_bucket_width(spark, tmp_path, oracle_result, buckets):
    """The bloom split path (bloom_split_min=0: every batch after the
    first probes the bloom) must equal the oracle at any bucket width:
    build and probe share one BloomGeometry. A probe at the default 64
    buckets of a 16-bucket bloom calls most seen URLs novel and
    re-admits them. Killed after batch 2 and resumed, so both the bloom
    grown batch by batch and the one rebuilt at resume are probed."""
    pol = CrawlPolicy(bloom_split_min=0, bloom_buckets=buckets)
    d = str(tmp_path / "bloom_ck")
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    partial = run_crawl(spark, CFG, SEEDS, robots, d, pol, stop_after_batch=2)
    assert partial.last_batch == 2
    res = run_crawl(spark, CFG, SEEDS, robots, d, pol, resume=True)
    _assert_oracle_equal(spark, res, oracle_result)


def test_failed_background_write_raises_then_resumes(
    spark, tmp_path, oracle_result, monkeypatch
):
    """A journal write that fails on the background pool must make
    run_crawl raise (never a silent commit past it), and the checkpoint
    it leaves must resume to the oracle's exact output."""
    import threading

    from crawler_distributed_spark.storage import BatchStore

    real_write = BatchStore.write_table
    failed_on = []

    def flaky_write(self, df, batch_id, table):
        if table == "frontier_delta" and batch_id == 2:
            failed_on.append(threading.current_thread())
            raise RuntimeError("injected journal write failure")
        return real_write(self, df, batch_id, table)

    d = str(tmp_path / "fail_ck")
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    monkeypatch.setattr(BatchStore, "write_table", flaky_write)
    with pytest.raises(RuntimeError, match="injected journal write failure"):
        run_crawl(spark, CFG, SEEDS, robots, d, POLICY)
    monkeypatch.setattr(BatchStore, "write_table", real_write)
    assert failed_on and failed_on[0] is not threading.main_thread()
    assert BatchStore(d).last_committed() == 1
    res = run_crawl(spark, CFG, SEEDS, robots, d, POLICY, resume=True)
    _assert_oracle_equal(spark, res, oracle_result)
