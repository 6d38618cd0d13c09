"""with_sequence: deterministic total-order sequence assignment."""

from pyspark.sql import functions as F

from crawler_distributed_spark.operators.sequence import with_sequence


def test_sequence_basic(spark):
    df = spark.range(0, 500).select((F.col("id") * 37 % 500).alias("k"))
    out, n = with_sequence(df, ["k"], start=10, seq_col="seq")
    assert n == 500
    rows = sorted((r.k, r.seq) for r in out.collect())
    assert rows == [(i, 10 + i) for i in range(500)]


def test_sequence_survives_union_embedding(spark):
    """Regression: stage partition ids shift when the stamped frame is
    embedded in a union — the first-key offset lookup must not care."""
    df = spark.range(0, 200).select((F.col("id") * 7 % 200).alias("k"))
    stamped, _ = with_sequence(df, ["k"], start=0, seq_col="seq")
    other = spark.range(0, 50).select(
        (F.col("id") + 1000).alias("k"), F.lit(-1).cast("long").alias("seq")
    )
    unioned = other.unionByName(stamped)
    got = sorted(
        (r.k, r.seq) for r in unioned.where(F.col("seq") >= 0).collect()
    )
    assert got == [(i, i) for i in range(200)]


def test_sequence_multi_column_order(spark):
    df = spark.createDataFrame(
        [(1, 2), (0, 5), (1, 0), (0, 1), (2, 0)], "a int, b int"
    )
    out, _ = with_sequence(df, ["a", "b"], seq_col="seq")
    got = {(r.a, r.b): r.seq for r in out.collect()}
    assert got == {(0, 1): 0, (0, 5): 1, (1, 0): 2, (1, 2): 3, (2, 0): 4}


def test_sequence_empty(spark):
    df = spark.range(0).select(F.col("id").alias("k"))
    out, n = with_sequence(df, ["k"], seq_col="seq")
    assert out.count() == 0 and n == 0


def test_sequence_mixed_type_order_key(spark):
    """The driver keys the offsets table by Row values and each stamping
    task by its own numpy scalars: int, double and string key columns must
    serialize to the same key on both sides — also in a frame without a
    string column, where a whole-row read would upcast the int."""
    rows = [(i % 7, (i * 13 % 11) / 4, f"s{i:03d}") for i in range(300)]
    df = spark.createDataFrame(rows, "a int, b double, s string")
    for frame, key in ((df, ["b", "s", "a"]), (df.select("a", "b").distinct(), ["a", "b"])):
        out, n = with_sequence(frame, key, start=3, seq_col="seq")
        got = sorted((tuple(r[c] for c in key), r.seq) for r in out.collect())
        assert n == frame.count() > 1
        assert [s for _, s in got] == list(range(3, 3 + n))
