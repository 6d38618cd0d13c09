"""Politeness stage: salted two-phase top-q must be exact."""

from pyspark.sql import functions as F

from crawler_distributed_spark.operators.politeness import select_fetch_batch
from crawler_distributed_spark.policy import CrawlPolicy


def _frontier(spark, rows):
    return spark.createDataFrame(
        rows,
        "crawl_id string, url_norm string, host string, depth int, "
        "priority_score double, discovery_seq long",
    )


def test_per_host_quota_and_order(spark):
    rows = []
    for h in ("a.com", "b.com"):
        for i in range(10):
            rows.append(("c1", f"https://{h}/p/{i}", h, 1, 0.0, len(rows)))
    eligible = _frontier(spark, rows)
    budgets = spark.createDataFrame([("c1", 100)], "crawl_id string, remaining int")
    policy = CrawlPolicy(quota_per_host=3, n_salts=4)
    got = select_fetch_batch(eligible, budgets, policy).collect()
    by_host = {}
    for r in got:
        by_host.setdefault(r.host, []).append(r.discovery_seq)
    # exactly the 3 earliest seqs per host (skew salting must not lose any)
    assert sorted(by_host["a.com"]) == [0, 1, 2]
    assert sorted(by_host["b.com"]) == [10, 11, 12]


def test_order_key_depth_then_priority_then_seq(spark):
    rows = [
        ("c1", "u1", "a.com", 2, 0.0, 0),
        ("c1", "u2", "a.com", 1, 0.0, 9),   # lower depth wins
        ("c1", "u3", "a.com", 1, 5.0, 10),  # higher priority wins within depth
        ("c1", "u4", "a.com", 1, 5.0, 3),   # earlier seq wins within (depth, prio)
    ]
    eligible = _frontier(spark, rows)
    budgets = spark.createDataFrame([("c1", 100)], "crawl_id string, remaining int")
    got = select_fetch_batch(eligible, budgets, CrawlPolicy(quota_per_host=2)).collect()
    picked = {r.url_norm for r in got}
    assert picked == {"u4", "u3"}
    seqs = {r.url_norm: r.seq_in_batch for r in got}
    assert seqs["u4"] == 1 and seqs["u3"] == 2


def test_budget_cap(spark):
    rows = [("c1", f"u{i}", f"h{i}.com", 1, 0.0, i) for i in range(10)]
    eligible = _frontier(spark, rows)
    budgets = spark.createDataFrame([("c1", 4)], "crawl_id string, remaining int")
    got = select_fetch_batch(eligible, budgets, CrawlPolicy(quota_per_host=2)).collect()
    assert sorted(r.discovery_seq for r in got) == [0, 1, 2, 3]
    assert sorted(r.seq_in_batch for r in got) == [1, 2, 3, 4]


def test_one_crawl_exchange_at_any_threshold(spark):
    """The (crawl_id, host) quota window and the per-crawl seq_in_batch
    window share ONE hash(crawl_id) exchange whatever the thresholds say
    (a second crawl_id-led exchange would re-shuffle the batch), and the
    salted phase 1 returns exactly the unsalted rows."""
    import re

    rows = []
    for h in range(6):
        for i in range(4):
            rows.append(
                ("c1", f"https://h{h}/p/{i}", f"h{h}.com", 1, 0.0, len(rows))
            )
    eligible = _frontier(spark, rows)
    budgets = spark.createDataFrame([("c1", 11)], "crawl_id string, remaining int")

    def hash_keys(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [
            re.sub(r"#\d+L?", "", k)
            for k in re.findall(r"Exchange hashpartitioning\((.*?), \d+\)", plan)
        ]

    got = []
    for salt, seq in ((2_000_000, 20_000), (0, 20_000), (2_000_000, 0), (0, 0)):
        pol = CrawlPolicy(quota_per_host=3, salt_threshold=salt, seq_singlepart_threshold=seq)
        df = select_fetch_batch(eligible, budgets, pol, n_eligible=len(rows))
        keys = hash_keys(df)
        assert keys.count("crawl_id") == 1, keys
        assert ("crawl_id, host, _salt" in keys) == (salt == 0), keys
        got.append(sorted((r.host, r.discovery_seq, r.seq_in_batch) for r in df.collect()))
    assert len(got[0]) == 11
    assert all(g == got[0] for g in got)


def test_salting_never_splits_quota_wrongly(spark):
    """Hot host with many URLs: exactly quota selected, the global best."""
    rows = [("c1", f"https://hot/p/{i}", "hot", 1, 0.0, 1000 - i) for i in range(200)]
    eligible = _frontier(spark, rows).repartition(8, "url_norm")
    budgets = spark.createDataFrame([("c1", 1000)], "crawl_id string, remaining int")
    policy = CrawlPolicy(quota_per_host=5, n_salts=8)
    got = select_fetch_batch(eligible, budgets, policy).collect()
    assert sorted(r.discovery_seq for r in got) == [801, 802, 803, 804, 805]
