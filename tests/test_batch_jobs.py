"""Per-batch fixed-cost budget (VERDICT r3 #3).

The thin-wave tail of the scaling runs pays a per-batch floor of fixed
driver/scheduler work; r3 measured ~4 separate post-fetch aggregation
jobs plus two separate durable writes (frontier_delta + lineage) per
batch. The fused loop journals lineage WITH the frontier deltas and
computes budget+fail deltas in one aggregation, so a steady-state
(non-durable) batch performs exactly THREE durable writes: fetched,
admitted, frontier_delta. These tests pin that floor so it cannot
silently regress.
"""

import os

from crawler_distributed_spark import synth
from crawler_distributed_spark.plans.frontier_loop import run_crawl
from crawler_distributed_spark.policy import CrawlPolicy

CFG = synth.SynthConfig(n_hosts=3, pages_base=12, hot_factor=3, branching=4)
SEEDS = synth.seed_rows(CFG, max_pages=8)


def test_three_writes_per_steady_state_batch(spark, tmp_path):
    """With durable commits and frontier snapshots pushed out, every
    executed batch must write exactly {fetched, admitted, frontier_delta}
    — in particular NO separate lineage table (it rides the journal) and
    no per-batch budget/strategy/frontier spills."""
    pol = CrawlPolicy(checkpoint_every=1000, frontier_snapshot_every=10_000)
    d = str(tmp_path / "ck")
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    res = run_crawl(spark, CFG, SEEDS, robots, d, pol)
    assert len(res.batch_seconds) >= 3, "workload too small to be meaningful"
    batches_root = os.path.join(d, "batches")
    final = res.last_batch
    # batch 0 is durable by construction (0 % checkpoint_every == 0), the
    # final batch commits durably by design — steady state is 1..final-1
    for b in range(1, final):
        bdir = os.path.join(batches_root, f"batch={b}")
        if not os.path.isdir(bdir):
            continue  # backoff-gap batch numbers are skipped, never written
        tables = sorted(
            n for n in os.listdir(bdir) if os.path.isdir(os.path.join(bdir, n))
        )
        assert tables == ["admitted", "fetched", "frontier_delta"], (b, tables)
    # lineage is still fully queryable from the journal
    lin = res.lineage(spark)
    assert lin is not None and lin.where("rows_fetched > 0").count() > 0


def test_scheduler_jobs_per_batch_bounded(spark, tmp_path):
    """Coarse ceiling on TOTAL scheduler jobs per executed batch (AQE
    stage materializations + broadcast builds included): measured ~48 on
    this workload after the r3 #3 fusion; the pre-fusion loop sat ~20%
    higher. Deterministic workload + fixed conf, so a breach means a new
    per-batch driver job slipped into the hot loop."""
    pol = CrawlPolicy(checkpoint_every=1000, frontier_snapshot_every=10_000)
    d = str(tmp_path / "jck")
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    sc = spark.sparkContext
    sc.setJobGroup("batch-job-count", "per-batch job ceiling")
    try:
        res = run_crawl(spark, CFG, SEEDS, robots, d, pol)
        ids = sc.statusTracker().getJobIdsForGroup("batch-job-count")
    finally:
        sc.setJobGroup(None, None)
    n_batches = len(res.batch_seconds)
    assert n_batches >= 3
    jobs_per_batch = len(ids) / n_batches
    assert jobs_per_batch <= 60, (len(ids), n_batches, jobs_per_batch)


def test_cached_blocks_do_not_grow(spark, tmp_path):
    """A loop that stays open (the streaming driver keeps one for the
    whole stream) unpersists each superseded state checkpoint and keeps
    the frontier's partition count capped, so the cached-block count after
    the 6th batch is no larger than after batch 2. Four shuffle partitions
    put the frontier at its cap by batch 2 (it gains up to two per batch)."""
    from crawler_distributed_spark.plans.frontier_loop import CrawlLoop

    jsc = spark.sparkContext._jsc.sc()
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    blocks = {}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        with CrawlLoop(spark, CFG, SEEDS, robots, str(tmp_path / "ck"), CrawlPolicy()) as loop:
            while (rep := loop.step()) is not None:
                # let the background checkpoints land, so every count is
                # taken at the same point of the batch cycle
                for fut in list(loop.state.futures.values()):
                    fut.result()
                blocks[rep.batch] = sum(i.numCachedPartitions() for i in jsc.getRDDStorageInfo())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    batches = sorted(blocks)
    assert len(batches) >= 6 and batches[2] == 2, blocks
    assert blocks[batches[5]] <= blocks[2], blocks
