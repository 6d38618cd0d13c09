"""Partitioned bloom-filter URL-seen pre-filter (north rule C4).

The exact URL-seen test is the anti-join against the admitted deltas
(operators/admission.py:filter_unseen) — that stays, as the correctness
backstop. This module adds the scale path the north rule prescribes:
a **bucket-partitioned bloom filter** over `xxhash64(url_norm)` that
splits each candidate batch into

  definitely-unseen  (bloom miss → admitted directly, NO shuffle)
  maybe-seen         (bloom hit → exact anti-join on this subset only)

Bloom properties used: no false negatives (a miss is proof of novelty),
false positives only cost a trip through the exact join. At steady state
almost every discovered URL is already seen (re-discovered links), so the
anti-join probe side shrinks to the novelty rate × (1 + fp-rate).

Layout: bucket = pmod(xxhash64(url_norm), n_buckets); one row per bucket
holding the bitmap as ``array<long>`` words (little-endian bit order:
overall bit ``i`` lives at bit ``i % 64`` of word ``i // 64``). The k
hash probes are ``pmod(xxhash64(url_norm, seed_k), bits_per_bucket)``.

Probe dispatch (guide §2.4/§3.1 — r6): when the WHOLE bloom table fits
the broadcast budget (``n_buckets · bits_per_bucket / 8`` bytes ≤
``broadcast_max_bytes``), the probe is a broadcast hash join plus pure
Column bit tests (``getbit`` on the word array) — zero exchange of the
candidates and zero Python. The pre-r6 shape shuffled EVERY candidate
row by bucket into a Python cogroup just to test 4 bits; that cost one
full exchange plus a JVM→Python→JVM round trip of the whole candidate
payload per batch. Above the budget (10^10-seen-row blooms are tens of
GB) the bucket-cogrouped probe runs instead — each task holds exactly
one bucket's bitmap, nothing is broadcast, which is what keeps the
filter partition-local at scale. Build and merge stay bucket-local;
merge is a plain JVM zip_with OR over the word arrays.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOOM_SCHEMA = "bucket int, words array<long>"

# bloom tables at or under this many bitmap bytes take the broadcast
# JVM-probe path in bloom_split; larger ones stay bucket-cogrouped
BROADCAST_MAX_BYTES = 64 * 1024 * 1024


@dataclass(frozen=True)
class BloomGeometry:
    """One bloom layout: bucket count, bits per bucket, probes per URL. A
    bloom must be probed with the geometry it was built with — a probe at
    another bucket count reads the wrong bucket's bitmap and calls seen
    URLs novel — so one object carries it to build_bloom_delta and
    bloom_split alike (``**asdict(geometry)``)."""

    n_buckets: int = 64
    bits_per_bucket: int = 1 << 20
    k: int = 4


def _bucket_col(url_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


def _probe_idx(url_col: str, i: int, bits_per_bucket: int):
    """Bit index of probe ``i`` — floored mod, matching numpy's ``%``."""
    return F.pmod(F.xxhash64(F.col(url_col), F.lit(i)), F.lit(bits_per_bucket))


def build_bloom_delta(
    seen_delta: DataFrame,
    url_col: str = "url_norm",
    n_buckets: int = 64,
    bits_per_bucket: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """(bucket, words) rows for a batch of newly-seen URLs."""
    assert bits_per_bucket % 64 == 0, "bits_per_bucket must be word-aligned"
    hashed = seen_delta.select(
        _bucket_col(url_col, n_buckets).alias("_bucket"),
        *[
            F.pmod(F.xxhash64(F.col(url_col), F.lit(i)), F.lit(bits_per_bucket)).alias(f"_h{i}")
            for i in range(k)
        ],
    )
    h_names = [f"_h{i}" for i in range(k)]

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        words = np.zeros(bits_per_bucket // 64, dtype=np.uint64)
        for name in h_names:
            idx = pdf[name].to_numpy(dtype=np.int64)
            np.bitwise_or.at(
                words, idx // 64, np.left_shift(np.uint64(1), (idx % 64).astype(np.uint64))
            )
        return pd.DataFrame(
            {
                "bucket": [int(pdf["_bucket"].iloc[0])],
                "words": [words.view(np.int64)],
            }
        )

    return hashed.groupBy("_bucket").applyInPandas(
        lambda key, pdf: build(pdf), schema=BLOOM_SCHEMA
    )


def merge_blooms(a: DataFrame | None, b: DataFrame) -> DataFrame:
    """OR-merge two bloom tables — pure JVM since r6: a full outer join on
    bucket (O(n_buckets) rows) + ``zip_with`` bitwise OR over the word
    arrays. The pre-r6 Python cogroup paid two exchanges and a Python
    round trip per batch for what is one tiny JVM join."""
    if a is None:
        return b
    wa = a.select("bucket", F.col("words").alias("_wa"))
    wb = b.select("bucket", F.col("words").alias("_wb"))
    merged = F.coalesce(
        F.zip_with("_wa", "_wb", lambda x, y: x.bitwiseOR(y)),
        F.col("_wa"),
        F.col("_wb"),
    )
    return wa.join(wb, "bucket", "full").select("bucket", merged.alias("words"))


def bloom_split(
    candidates: DataFrame,
    bloom: DataFrame,
    url_col: str = "url_norm",
    n_buckets: int = 64,
    bits_per_bucket: int = 1 << 20,
    k: int = 4,
    broadcast_max_bytes: int = BROADCAST_MAX_BYTES,
) -> DataFrame:
    """Tag candidates with ``maybe_seen``: False = bloom miss = provably
    novel (skip the exact join); True = needs the anti-join.

    Small blooms (see module docstring): broadcast join + Column-level
    ``getbit`` probes — no candidate shuffle, no Python. Large blooms:
    bucket cogroup, each task holds exactly one bucket's bitmap."""
    if n_buckets * (bits_per_bucket // 8) <= broadcast_max_bytes:
        joined = candidates.withColumn(
            "_bucket", _bucket_col(url_col, n_buckets)
        ).join(
            F.broadcast(bloom.select("bucket", F.col("words").alias("_bw"))),
            F.col("_bucket") == F.col("bucket"),
            "left",
        )
        hit = None
        for i in range(k):
            idx = _probe_idx(url_col, i, bits_per_bucket)
            word = F.get(F.col("_bw"), (idx / F.lit(64)).cast("int"))
            test = F.getbit(word, F.pmod(idx, F.lit(64)).cast("int")) == 1
            hit = test if hit is None else (hit & test)
        maybe = F.col("_bw").isNotNull() & F.coalesce(hit, F.lit(False))
        return joined.withColumn("maybe_seen", maybe).drop(
            "bucket", "_bucket", "_bw"
        )

    from pyspark.sql import types as T

    hashed = candidates.withColumn("_bucket", _bucket_col(url_col, n_buckets))
    for i in range(k):
        hashed = hashed.withColumn(f"_h{i}", _probe_idx(url_col, i, bits_per_bucket))
    h_names = [f"_h{i}" for i in range(k)]
    out_schema = T.StructType(
        [f for f in hashed.schema.fields if f.name != "_bucket"]
        + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )

    def probe(cand: pd.DataFrame, blm: pd.DataFrame) -> pd.DataFrame:
        if not len(cand):
            return cand.drop(columns=["_bucket"]).assign(maybe_seen=pd.Series([], dtype=bool))
        if not len(blm):
            res = cand.drop(columns=["_bucket"]).copy()
            res["maybe_seen"] = False
            return res
        words = np.asarray(blm["words"].iloc[0], dtype=np.int64).view(np.uint64)
        hit = np.ones(len(cand), dtype=bool)
        for name in h_names:
            idx = cand[name].to_numpy(dtype=np.int64)
            hit &= (
                (words[idx // 64] >> (idx % 64).astype(np.uint64)) & np.uint64(1)
            ).astype(bool)
        res = cand.drop(columns=["_bucket"]).copy()
        res["maybe_seen"] = hit
        return res

    return (
        hashed.groupBy("_bucket")
        .cogroup(bloom.groupBy("bucket"))
        .applyInPandas(lambda key, c, b: probe(c, b), schema=out_schema)
        .drop(*h_names)
    )
