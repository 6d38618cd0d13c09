"""Checkpointed table storage with atomic per-batch commits.

Iceberg is the target table format (north rule), but its runtime jar is
not in this sandbox, so this module implements the same commit semantics
over plain parquet behind a thin interface (SURVEY.md §7 step 3 fallback):

  <root>/batches/batch=<k>/<table>/...parquet     state written by batch k
  <root>/batches/batch=<k>/manifest.json          written LAST, via atomic rename

A batch is committed iff its manifest exists; resume scans for the max
committed batch and reloads exactly that state. Append-only tables (seen
deltas, trace, lineage, docs) are written once per batch and read as a
union of committed batch dirs — no rewrite, which is what keeps the seen
set O(delta) per batch instead of O(10^10). The mutable frontier is
log-structured the same way: O(batch) rm/add deltas every batch, a full
snapshot only every frontier_snapshot_every batches, replayed by
read_frontier() on resume (the Iceberg path would MERGE instead; swap
point is this module only).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


class SeenParts(NamedTuple):
    """The seen set split for the admission anti-join (SURVEY.md §4
    physical-plan choice #1): ``compacted`` is a BUCKETED-table read —
    hash-clustered on the join keys, so the exact anti-join plans with
    NO exchange on this (10^10-row-at-scale) side; ``deltas`` is the
    O(recent-batches) union since the last compaction, small enough that
    AQE broadcasts it. Either may be None."""

    compacted: DataFrame | None
    deltas: DataFrame | None


class BatchStore:
    def __init__(self, root: str):
        self.root = root
        self.batches_dir = os.path.join(root, "batches")
        os.makedirs(self.batches_dir, exist_ok=True)

    # --- paths
    def batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.batches_dir, f"batch={batch_id}")

    def table_path(self, batch_id: int, table: str) -> str:
        return os.path.join(self.batch_dir(batch_id), table)

    def manifest_path(self, batch_id: int) -> str:
        return os.path.join(self.batch_dir(batch_id), "manifest.json")

    # --- commit protocol
    def write_table(self, df: DataFrame, batch_id: int, table: str) -> None:
        df.write.mode("overwrite").parquet(self.table_path(batch_id, table))

    def commit(self, batch_id: int, manifest: dict) -> None:
        """Atomic commit: manifest rename is the commit point."""
        payload = dict(manifest, batch_id=batch_id, committed=True)
        fd, tmp = tempfile.mkstemp(dir=self.batch_dir(batch_id), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, self.manifest_path(batch_id))

    def last_committed(self) -> int | None:
        best = None
        if not os.path.isdir(self.batches_dir):
            return None
        for name in os.listdir(self.batches_dir):
            if not name.startswith("batch="):
                continue
            k = int(name.split("=", 1)[1])
            if os.path.exists(self.manifest_path(k)):
                best = k if best is None else max(best, k)
        return best

    def read_manifest(self, batch_id: int) -> dict:
        with open(self.manifest_path(batch_id)) as f:
            return json.load(f)

    def rollback_uncommitted(self) -> None:
        """Delete any batch dirs newer than the last committed manifest —
        a killed job's partial writes are garbage, never state."""
        last = self.last_committed()
        for name in list(os.listdir(self.batches_dir)):
            if not name.startswith("batch="):
                continue
            k = int(name.split("=", 1)[1])
            if last is None or k > last:
                shutil.rmtree(os.path.join(self.batches_dir, name), ignore_errors=True)
        # a compacted seen copy that includes rolled-back batches is garbage
        if os.path.isdir(self.compacted_dir()):
            for name in list(os.listdir(self.compacted_dir())):
                if not name.startswith("upto="):
                    shutil.rmtree(os.path.join(self.compacted_dir(), name), ignore_errors=True)
                    continue
                k = int(name.split("=", 1)[1])
                if last is None or k > last:
                    shutil.rmtree(os.path.join(self.compacted_dir(), name), ignore_errors=True)

    # --- log-structured frontier ---------------------------------------------
    # The frontier is the one mutable table; rewriting it durably every
    # batch is O(frontier) I/O per batch (fatal at a 10^10-URL frontier).
    # Instead: a full snapshot every policy.frontier_snapshot_every
    # batches, and an O(batch) "frontier_delta" every batch (op='rm' rows
    # carry the scheduled discovery_seqs; op='add' rows carry retries +
    # newly admitted rows). read_frontier() reconstructs the state at any
    # committed batch by last-writer-wins resolution over (snapshot ∪
    # adds) vs removals — the Iceberg MERGE equivalent, one groupBy at
    # resume time only.

    def latest_frontier_snapshot(self, upto_batch: int) -> int | None:
        for k in range(upto_batch, -2, -1):
            if os.path.isdir(self.table_path(k, "frontier")):
                return k
        return None

    def read_frontier(
        self, spark: SparkSession, upto_batch: int, frontier_cols: list[str]
    ) -> DataFrame:
        """Frontier state as of committed batch ``upto_batch``: newest
        snapshot plus delta replay. A seq is present iff its latest add
        (snapshot counts as an add at the snapshot batch) is not
        superseded by a later removal; a removal and re-add in the same
        batch is a retry and the add wins (the schedule precedes the
        re-queue within a batch)."""
        from pyspark.sql import functions as _F

        s0 = self.latest_frontier_snapshot(upto_batch)
        if s0 is None:
            raise ValueError(f"no frontier snapshot at or below {upto_batch}")
        snap = spark.read.parquet(self.table_path(s0, "frontier")).select(
            *frontier_cols
        )
        delta_paths = [
            self.table_path(k, "frontier_delta")
            for k in range(s0 + 1, upto_batch + 1)
            if os.path.isdir(self.table_path(k, "frontier_delta"))
        ]
        if not delta_paths:
            return snap
        d = spark.read.parquet(*delta_paths)
        adds = snap.withColumn("_b", _F.lit(s0).cast("long")).unionByName(
            d.where(_F.col("_op") == "add").select(*frontier_cols, "_b")
        )
        payload = [c for c in frontier_cols if c != "discovery_seq"]
        last_add = adds.groupBy("discovery_seq").agg(
            _F.max_by(_F.struct(*payload, "_b"), _F.col("_b")).alias("_w")
        ).select("discovery_seq", "_w.*")
        rm = (
            d.where(_F.col("_op") == "rm")
            .groupBy("discovery_seq")
            .agg(_F.max("_b").alias("_rmb"))
        )
        return (
            last_add.join(rm, "discovery_seq", "left")
            .where(_F.col("_rmb").isNull() | (_F.col("_rmb") <= _F.col("_b")))
            .select(*frontier_cols)
        )

    # --- seen-set compaction -------------------------------------------------
    # The admission anti-join probes the union of per-batch `admitted`
    # deltas; without compaction that read is O(#batches) directories per
    # batch (O(N²) I/O over a run). Every compact_every batches the union
    # is rewritten once as a BUCKETED table — hash-clustered AND sorted on
    # (crawl_id, url_norm), the anti-join keys — into
    # <root>/compacted/upto=<k>/ (atomic dir rename = commit).
    # read_seen_parts() re-registers the bucket spec in the session
    # catalog, so the exact anti-join scans the compacted copy with its
    # bucket layout exposed: NO exchange (and no sort beyond a cheap
    # per-bucket pass) on the big side — only the O(batch) probe and the
    # O(recent-deltas) side move. Deltas stay on disk (they also serve
    # trace/lineage reads); at real scale this whole block is the Iceberg
    # MERGE / storage-partitioned-join swap point.

    def compacted_dir(self) -> str:
        return os.path.join(self.root, "compacted")

    def _digest(self) -> str:
        """Stable per-checkpoint-root suffix for catalog table names (the
        session catalog is shared across stores in tests)."""
        return hashlib.md5(os.path.abspath(self.root).encode()).hexdigest()[:10]

    def _compacted_upto(self, limit: int) -> int | None:
        best = None
        if not os.path.isdir(self.compacted_dir()):
            return None
        for name in os.listdir(self.compacted_dir()):
            if not name.startswith("upto="):
                continue
            k = int(name.split("=", 1)[1])
            if k <= limit:
                best = k if best is None else max(best, k)
        return best

    def compact_seen(self, spark: SparkSession, upto_batch: int, n_buckets: int = 32) -> None:
        """Rewrite the seen set (crawl_id, url_norm) up to ``upto_batch``
        into one BUCKETED compacted copy: ``bucketBy(n, crawl_id,
        url_norm).sortBy(...)`` — pre-repartitioned on the same keys so
        each bucket lands as exactly one file. Idempotent; crash-safe via
        tmp-dir + atomic rename (saveAsTable writes to the tmp path as an
        external table; the throwaway catalog entry is dropped metadata-
        only, the files move)."""
        import shutil as _sh

        from pyspark.sql import functions as _F

        df = self.read_seen(spark, upto_batch)
        if df is None:
            return
        final = os.path.join(self.compacted_dir(), f"upto={upto_batch}")
        if os.path.isdir(final):
            return
        tmp = os.path.join(self.compacted_dir(), f".tmp-{upto_batch}")
        _sh.rmtree(tmp, ignore_errors=True)
        tmp_tbl = f"_seen_tmp_{self._digest()}"
        spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
        (
            df.select("crawl_id", "url_norm")
            .repartition(n_buckets, _F.col("crawl_id"), _F.col("url_norm"))
            .write.bucketBy(n_buckets, "crawl_id", "url_norm")
            .sortBy("crawl_id", "url_norm")
            .option("path", tmp)
            .mode("overwrite")
            .saveAsTable(tmp_tbl)
        )
        spark.sql(f"DROP TABLE {tmp_tbl}")  # external: files stay in tmp
        with open(os.path.join(tmp, "_bucketspec.json"), "w") as f:
            json.dump({"n_buckets": n_buckets,
                       "bucket_cols": ["crawl_id", "url_norm"]}, f)
        os.replace(tmp, final)
        # drop superseded compacted copies (their deltas still exist) and
        # their now-dangling catalog registrations
        for name in list(os.listdir(self.compacted_dir())):
            if name.startswith("upto=") and int(name.split("=", 1)[1]) < upto_batch:
                _sh.rmtree(os.path.join(self.compacted_dir(), name), ignore_errors=True)
                spark.sql(
                    "DROP TABLE IF EXISTS "
                    f"seen_c_{self._digest()}_{name.split('=', 1)[1]}"
                )

    def read_seen_parts(self, spark: SparkSession, upto_batch: int) -> SeenParts:
        """The seen set as of ``upto_batch``, split for the anti-join:
        the newest compacted copy read THROUGH the catalog with its
        bucket spec (scan exposes hashpartitioning(crawl_id, url_norm) →
        the anti-join needs no exchange on this side), plus the few
        admitted deltas after it as a plain union. The table is
        re-registered drop+create each call — metadata-only on the
        in-memory catalog, and immune to stale relation caches across
        resume/rollback."""
        base = self._compacted_upto(upto_batch)
        compacted = None
        start = -1
        if base is not None:
            d = os.path.join(self.compacted_dir(), f"upto={base}")
            with open(os.path.join(d, "_bucketspec.json")) as f:
                spec = json.load(f)
            tbl = f"seen_c_{self._digest()}_{base}"
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            spark.sql(
                f"CREATE TABLE {tbl} (crawl_id STRING, url_norm STRING) "
                f"USING parquet "
                f"CLUSTERED BY ({', '.join(spec['bucket_cols'])}) "
                f"SORTED BY (crawl_id, url_norm) "
                f"INTO {spec['n_buckets']} BUCKETS "
                f"LOCATION '{d}'"
            )
            compacted = spark.table(tbl)
            start = base + 1
        delta_paths = [
            self.table_path(k, "admitted")
            for k in range(start, upto_batch + 1)
            if os.path.isdir(self.table_path(k, "admitted"))
        ]
        deltas = (
            spark.read.parquet(*delta_paths).select("crawl_id", "url_norm")
            if delta_paths
            else None
        )
        return SeenParts(compacted, deltas)

    def read_seen(self, spark: SparkSession, upto_batch: int) -> DataFrame | None:
        """The (crawl_id, url_norm) seen set as of ``upto_batch`` as ONE
        DataFrame: the newest compacted copy plus only the deltas after
        it. Path-based read (no bucket metadata) — for non-join consumers
        (bloom rebuild, verification); the anti-join uses
        read_seen_parts()."""
        base = self._compacted_upto(upto_batch)
        paths = []
        if base is not None:
            paths.append(os.path.join(self.compacted_dir(), f"upto={base}"))
        start = -1 if base is None else base + 1
        paths += [
            self.table_path(k, "admitted")
            for k in range(start, upto_batch + 1)
            if os.path.isdir(self.table_path(k, "admitted"))
        ]
        if not paths:
            return None
        return spark.read.parquet(*paths).select("crawl_id", "url_norm")

    # --- reads
    def read_table(self, spark: SparkSession, batch_id: int, table: str) -> DataFrame:
        return spark.read.parquet(self.table_path(batch_id, table))

    def read_appendonly(
        self, spark: SparkSession, upto_batch: int, table: str
    ) -> DataFrame | None:
        """Union of an append-only table across committed batches 0..upto."""
        paths = [
            self.table_path(k, table)
            for k in range(-1, upto_batch + 1)  # -1 = the init (seed) batch
            if os.path.isdir(self.table_path(k, table))
        ]
        if not paths:
            return None
        return spark.read.parquet(*paths)
