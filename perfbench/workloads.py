"""The three closed-loop workloads: one client, and the next operation
starts when the previous one returns.

Each workload makes its inputs in ``prepare`` (the crawls from the seed;
the document suite reads fixed tables), runs one operation per ``run_op``
call and records what the checks need; ``check`` compares the recorded
outputs with the reference implementation, computed outside the timed
window and cached under the benchmark's cache directory.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

CPUS = 4


@dataclass
class OpRecord:
    wall: float                  # seconds of the timed call
    attempted: int               # operations inside (1 crawl, n ticks, 12 queries)
    rows: int = 0                # crawl: trace rows
    units: list = field(default_factory=list)   # crawl: seconds per crawl or tick
    error: str | None = None
    out: dict = field(default_factory=dict)     # what check() compares
    storage: tuple[int, int] = (0, 0)           # checkpoint (bytes, files)
    failed: int = 0
    elapsed: float = 0.0                        # wall including the checks' reads


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def _dir_usage(path: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


def load_json(path: str):
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def save_json(path: str, obj) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f, sort_keys=True)
    os.replace(tmp, path)


class CrawlWorkload:
    """A synthetic-web crawl, checked against ``oracle.run_oracle``: the
    ordering trace and the URL-seen set must be equal as sets."""

    name = "crawl"
    streaming = False
    layer_counts = False  # the traced run also reads admission counts

    def __init__(self, seed: int, cache_dir: str, run_dir: str, **cfg) -> None:
        from crawler_distributed_spark import synth
        from crawler_distributed_spark.policy import CrawlPolicy

        self.seed = seed
        self.cache_dir = cache_dir
        self.run_dir = run_dir
        self.cfg = synth.SynthConfig(seed=seed, **cfg["web"])
        self.max_pages = cfg["max_pages"]
        self.seeds = None  # made by prepare()
        # reference-budget policy only (count_scheduled_in_budget=False):
        # the oracle implements every knob set here
        self.policy = CrawlPolicy(**cfg["policy"])
        # a crawl stopped after batch n equals the oracle's crawl with the
        # loop guard at n + 1 batches
        self.stop_after_batch = cfg.get("stop_after_batch")
        self.oracle_policy = (
            self.policy if self.stop_after_batch is None
            else dataclasses.replace(self.policy, max_batches=self.stop_after_batch + 1)
        )
        self.cfg_key = hashlib.sha256(
            repr((self.cfg, cfg["max_pages"], self.oracle_policy)).encode()
        ).hexdigest()[:16]

    def prepare(self) -> None:
        """Generate the seed URLs; the synthetic web itself is generated
        by the engine while it crawls."""
        from crawler_distributed_spark import synth

        self.seeds = synth.seed_rows(self.cfg, max_pages=self.max_pages)

    def warm_up(self, spark) -> None:
        """Nothing: the first operation is measured cold."""

    def _call(self, spark, robots, ckpt: str):
        from crawler_distributed_spark.plans import frontier_loop

        return frontier_loop.run_crawl(
            spark, self.cfg, self.seeds, robots, ckpt, self.policy
        )

    def run_op(self, spark, k: int) -> OpRecord:
        from crawler_distributed_spark import synth
        from crawler_distributed_spark.storage import BatchStore
        from crawler_distributed_spark.plans.frontier_loop import CrawlRunResult

        ckpt = os.path.join(self.run_dir, f"ckpt-{k}")
        robots = spark.createDataFrame(synth.robots_rule_rows(self.cfg))
        t0 = time.time()
        try:
            self._call(spark, robots, ckpt)
        except Exception as e:  # an operation that raises counts as failed
            return OpRecord(time.time() - t0, 1, error=repr(e)[:300], failed=1)
        wall = time.time() - t0
        store = BatchStore(ckpt)
        res = CrawlRunResult(store, store.last_committed())
        trace = [tuple(r) for r in res.trace(spark).collect()]
        seen = [tuple(r) for r in res.seen(spark).select("crawl_id", "url_norm").collect()]
        rec = OpRecord(wall, 1, rows=len(trace), storage=_dir_usage(ckpt))
        rec.out = {"trace": _digest(trace), "seen": _digest(seen),
                   "commits": self._commit_times(store)}
        if self.layer_counts:
            rec.out["candidates"], rec.out["admitted"] = self._admission_counts(spark, res)
        if self.streaming:
            rec.attempted = max(1, len(rec.out["commits"]))
            rec.units = [b - a for a, b in zip(rec.out["commits"], rec.out["commits"][1:])]
        else:
            rec.units = [wall]
        shutil.rmtree(ckpt, ignore_errors=True)
        return rec

    @staticmethod
    def _commit_times(store) -> list[float]:
        """Manifest commit times of batches 0.. in order: the manifest
        rename is the commit point, so its mtime is the commit time."""
        out = []
        b = 0
        while os.path.exists(store.manifest_path(b)):
            out.append(os.stat(store.manifest_path(b)).st_mtime_ns / 1e9)
            b += 1
        return out

    @staticmethod
    def _admission_counts(spark, res) -> tuple[int, int]:
        """Outlinks on fetched pages (the admission input) and URLs admitted
        after the seeds, read from the checkpoint after the timed call."""
        from pyspark.sql import functions as F

        cand = res._fetched(spark).agg(
            F.sum(F.coalesce(F.size("outlinks"), F.lit(0)))
        ).first()[0] or 0
        adm = res.seen(spark).where("first_seen_batch >= 0").count()
        return int(cand), int(adm)

    def _reference(self) -> dict:
        path = os.path.join(self.cache_dir, f"{self.name}-{self.seed}-{self.cfg_key}.json")
        ref = load_json(path)
        if ref is None:
            from crawler_distributed_spark.oracle import run_oracle

            o = run_oracle(self.cfg, self.seeds, self.oracle_policy)
            seen = [(c, u) for c, urls in o.seen.items() for u in urls]
            ref = {"trace": _digest(o.trace), "seen": _digest(seen),
                   "trace_rows": len(o.trace), "seen_rows": len(seen)}
            save_json(path, ref)
        return ref

    def check(self, spark, ops: list[OpRecord]) -> None:
        ref = self._reference()
        for op in ops:
            if op.error is None and (op.out["trace"] != ref["trace"] or op.out["seen"] != ref["seen"]):
                op.error = f"output differs from oracle (trace rows {op.rows} vs {ref['trace_rows']})"
            if op.error is not None:
                op.failed = op.attempted

    def e2e(self, ops: list[OpRecord]) -> dict:
        units = [u for op in ops for u in op.units]
        rates = [op.rows / op.wall for op in ops if op.wall > 0]
        return {"op_s_p50": statistics.median(units),
                "throughput_per_s": statistics.median(rates)}


class StreamWorkload(CrawlWorkload):
    """The same checks, driven by ``stream_crawl``: every tick re-enters
    ``run_crawl(resume=True)``. One operation is one tick."""

    streaming = True

    def warm_up(self, spark) -> None:
        """One unchecked one-tick stream crawl over a five-host web, so the
        measured ticks run with the JVM's JIT and codegen caches warm."""
        from crawler_distributed_spark import synth
        from crawler_distributed_spark.streaming import stream_loop

        cfg = dataclasses.replace(self.cfg, n_hosts=5)
        ckpt = os.path.join(self.run_dir, "ckpt-warm-up")
        stream_loop.stream_crawl(
            spark, cfg, synth.seed_rows(cfg, max_pages=8),
            spark.createDataFrame(synth.robots_rule_rows(cfg)), ckpt, self.policy,
            stop_after_batch=0,
        )
        shutil.rmtree(ckpt, ignore_errors=True)

    def _call(self, spark, robots, ckpt: str):
        from crawler_distributed_spark.streaming import stream_loop

        return stream_loop.stream_crawl(
            spark, self.cfg, self.seeds, robots, ckpt, self.policy,
            stop_after_batch=self.stop_after_batch,
        )


# the sf0.1 documents (5,000 rows) and embeddings (2,000 rows) tables,
# copied unchanged
DOC_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

DOC_QUERIES = [
    "span_extraction", "simhash_near_dup", "minhash_near_dup", "ngram_jaccard",
    "dedup_exact", "batch_dedup_stable", "link_pagerank_topk",
    "real_bpe_token_counts", "quality_scores", "ann_ivf_topk",
    "url_normalize_hosts", "url_admission",
]


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    return str(v)


def _frame_key(cols: list[str], rows) -> list:
    """Order-insensitive comparison key: columns sorted by name, cells
    stringified (floats to 6 significant digits), rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [[cols[i] for i in order],
            sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)]


class DocPipelines:
    """The read-only ``extract``/``pipelines`` query suite over the sf0.1
    ``documents``/``embeddings`` tables in ``perfbench/data``. One
    operation is one query; the timed unit is one pass over the suite. Each query is built by
    ``queries()[name]`` and written to the noop sink; an Observation on
    that write yields an order-insensitive digest of the result, compared
    with a digest recorded once the same query's rows matched its
    ``oracle_sql()`` DuckDB twin."""

    name = "doc_pipelines"

    def __init__(self, seed: int, cache_dir: str, run_dir: str) -> None:
        import pyarrow.parquet as pq

        import __spark_entry__ as entry

        self.data_dir = DOC_DATA
        self.n_docs = pq.ParquetFile(os.path.join(DOC_DATA, "documents.parquet")).metadata.num_rows
        self.ref_path = os.path.join(cache_dir, "doc_pipelines.digests.json")
        self.recorder = None  # set by the traced run
        self._frames: dict = {}  # the last pass's DataFrames, for verification
        # span_extraction ships its fixed span corpus to a module-level
        # directory; keep it inside the run directory
        entry._SHIP_DIR = os.path.join(run_dir, "ship")

    def prepare(self) -> None:
        """Nothing: the tables are fixed files, the same for every seed."""

    def warm_up(self, spark) -> None:
        """Nothing: a warm-up pass would cost as much as the measured one,
        so the pass is measured cold."""

    def _build(self, spark, name: str):
        import __spark_entry__ as entry

        fn = entry.queries()[name]
        if self.recorder is not None:
            return self.recorder.call(f"query:{name}", fn, spark, self.data_dir)
        return fn(spark, self.data_dir)

    def run_op(self, spark, k: int) -> OpRecord:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        rec = OpRecord(0.0, len(DOC_QUERIES))
        t_pass = time.time()
        for name in DOC_QUERIES:
            try:
                df = self._frames[name] = self._build(spark, name)
                obs = Observation(f"digest-{name}-{k}")
                row = F.to_json(F.struct(*[F.col(f"`{c}`") for c in df.columns]))
                sink = df.observe(obs, F.count(F.lit(1)).alias("n"),
                                  F.bit_xor(F.xxhash64(row)).alias("h"))
                span = self.recorder.open(f"exec:{name}") if self.recorder else None
                try:
                    sink.write.format("noop").mode("overwrite").save()
                finally:
                    if span is not None:
                        self.recorder.close(span)
                m = obs.get
                rec.out[name] = {"n": int(m["n"] or 0), "h": int(m["h"] or 0)}
            except Exception as e:  # a query that raises counts as failed
                rec.out[name] = {"error": repr(e)[:300]}
        rec.wall = time.time() - t_pass
        return rec

    def _verify(self, con, name: str, oracle: dict) -> bool:
        """Full comparison of the last pass's Spark rows (the same plan,
        executed again) with the DuckDB oracle rows."""
        df = self._frames[name]
        res = con.execute(oracle[name])
        want = _frame_key([d[0] for d in res.description], res.fetchall())
        return _frame_key(df.columns, df.collect()) == want

    def check(self, spark, ops: list[OpRecord]) -> None:
        import duckdb

        import __spark_entry__ as entry

        refs = load_json(self.ref_path) or {}
        con = None
        verdict: dict[str, bool] = {}
        for op in ops:
            for name in DOC_QUERIES:
                got = op.out.get(name, {})
                if "error" in got:
                    op.failed += 1
                    continue
                if refs.get(name) == got:
                    continue
                if name not in verdict:
                    if con is None:
                        con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
                        for t in ("documents", "embeddings"):
                            con.execute(
                                f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{self.data_dir}/{t}.parquet')"
                            )
                        oracle = entry.oracle_sql()
                    verdict[name] = self._verify(con, name, oracle)
                    if verdict[name] and name not in refs:
                        refs[name] = got
                if not verdict[name]:
                    op.failed += 1
                    op.error = f"{name}: result differs from the DuckDB oracle"
        if con is not None:
            con.close()
            save_json(self.ref_path, refs)

    def e2e(self, ops: list[OpRecord]) -> dict:
        walls = [op.wall for op in ops]
        return {"op_s_p50": statistics.median(walls),
                "throughput_per_s": statistics.median(
                    self.n_docs * len(DOC_QUERIES) / w for w in walls)}


# Workload sizes. Every crawl uses the reference budget
# (count_scheduled_in_budget=False); see perfbench/README.md for why each
# was chosen and how it was sized to the time budget.
CRAWL_WIDE = dict(
    web=dict(n_hosts=600, pages_base=100, hot_factor=10, branching=8),
    max_pages=24,
    policy=dict(quota_per_host=24, max_attempts=1, backoff_cap=2, max_batches_per_crawl=2),
)
STREAM_DEEP = dict(
    web=dict(n_hosts=50, pages_base=12, hot_factor=3, branching=4),
    max_pages=8,
    # 100 lies between the seeding batch's 50 eligible rows and the
    # resumed batch's few hundred: the seeding tick stamps discovery_seq
    # with one global window, the resumed tick with the two-phase
    # with_sequence (at the default 20,000 only a far wider crawl would).
    # The threshold selects a plan only; the output is the same.
    policy=dict(quota_per_host=4, seq_singlepart_threshold=100),
    stop_after_batch=1,
)


def make(name: str, seed: int, cache_dir: str, run_dir: str):
    if name == "crawl_wide":
        w = CrawlWorkload(seed, cache_dir, run_dir, **CRAWL_WIDE)
    elif name == "stream_deep":
        w = StreamWorkload(seed, cache_dir, run_dir, **STREAM_DEEP)
    elif name == "doc_pipelines":
        w = DocPipelines(seed, cache_dir, run_dir)
    else:
        raise ValueError(f"unknown workload {name!r}")
    w.name = name
    return w
