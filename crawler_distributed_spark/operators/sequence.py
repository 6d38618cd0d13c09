"""Deterministic, shuffle-scalable global sequence assignment.

The frontier needs a globally-unique, data-defined ``discovery_seq``
(SURVEY.md §7 risk #1: ordering must be defined by data, never by task
scheduling). The naive ``row_number() OVER (ORDER BY ...)`` collapses to a
single partition — fine at test scale, fatal at 10^10 rows. This helper
implements the classic two-phase assignment instead:

1. range-partition + sort by the (total) order key — one exchange — and
   cache the result;
2. a counting pass (mapInPandas) emits each partition's FIRST order key
   and row count;
3. the driver orders the (first_key, count) pairs and prefix-sums the
   counts (one tiny list — #partitions entries);
4. a stamping pass looks up its partition's offset BY ITS OWN FIRST KEY
   and writes ``seq = start + offset + local_index``.

Keying the offset table on the partition's first order key (rather than
``TaskContext.partitionId()``) makes the stamp correct no matter how the
stamping stage is embedded downstream — unions offset stage partition
ids, AQE re-plans stages, cache eviction recomputes them — because the
range-sort puts the same first key in the same logical partition every
time. Order keys must be unique (caller supplies a tiebreaker column), so
a first key identifies a partition unambiguously.

Because the order key is total, any range partitioning yields the same
global order, so the assigned sequence is independent of parallelism —
the property the N-vs-4N identical-output requirement rests on.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _offset_key(values) -> str:
    """The offsets-table key of a partition's first order key. The driver
    builds the table from Row values and each stamping task looks itself
    up with numpy scalars read column by column (a whole-row ``iloc``
    would upcast an int next to a double), so both sides serialize
    through here and produce the same bytes."""
    return json.dumps([v.item() if hasattr(v, "item") else v for v in values])


def with_sequence(
    df: DataFrame,
    order_cols: list[str],
    start: int = 0,
    seq_col: str = "discovery_seq",
) -> tuple[DataFrame, int]:
    """Append ``seq_col`` = start, start+1, ... in ascending ``order_cols``
    order. ``order_cols`` are column NAMES forming a total order (include a
    unique tiebreaker). Cost: one range exchange + one counting job; no
    single-partition stage.

    Returns (stamped_df, total_rows) — the count falls out of the counting
    pass for free, so callers never re-count.

    The range-sorted frame is lazily localCheckpoint-ed (not cache()d):
    the counting pass's job materializes it, the stamping pass reads the
    SAME materialized partitions — no cache-eviction recompute can ever
    re-plan to a different partitioning and miss the offsets lookup —
    and the blocks are freed by the ContextCleaner as soon as the
    stamped plan is dropped, instead of accumulating in the CacheManager
    across thousands of batches.
    """
    from pyspark.sql import functions as F

    sorted_df = df.orderBy(*order_cols).localCheckpoint(eager=False)

    # Counting pass in the JVM (r6, guide §4): per partition, the row
    # count and the MINIMUM order key — which IS the partition's first
    # key, because the range sort leaves each partition ascending. The
    # old pass shipped every row through an Arrow mapInPandas just to
    # read the first row and count; this aggregation is map-side and
    # moves one row per partition. Both sides key the offsets through
    # _offset_key.
    counts = (
        sorted_df.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct(*order_cols)).alias("k"),
        )
        .collect()
    )
    # order partitions by their first key (tuples compare elementwise; the
    # range sort guarantees partition key-ranges are disjoint)
    parts = sorted(
        ((list(r["k"]), _offset_key(r["k"]), r["n"]) for r in counts),
        key=lambda t: t[0],
    )
    offsets: dict[str, int] = {}
    acc = 0
    for _, raw_key, n in parts:
        offsets[raw_key] = acc
        acc += n

    schema = T.StructType(
        list(sorted_df.schema.fields) + [T.StructField(seq_col, T.LongType(), False)]
    )

    def stamp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        base = None
        local = 0
        for pdf in batches:
            if len(pdf) and base is None:
                base = start + offsets[_offset_key(pdf[c].iloc[0] for c in order_cols)]
            n = len(pdf)
            pdf = pdf.copy()
            pdf[seq_col] = pd.array(
                range(base + local, base + local + n) if n else [], dtype="int64"
            )
            local += n
            yield pdf

    return sorted_df.mapInPandas(stamp, schema=schema), acc
