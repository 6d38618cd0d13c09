"""Metric vocabulary and the per-layer numbers of a traced run.

Spark is lazy: a span around ``select_fetch_batch``, ``fetch_scheduled``
or ``admit`` times the driver's plan build only; the execution of that
plan lands in the ``write_table`` span of the table it feeds (or in the
``localCheckpoint`` span that materializes it). Per-layer times are per
traced operation (one crawl, one ``stream_crawl`` call, one suite pass)
unless the name says otherwise.
"""

from __future__ import annotations

import statistics

from . import tracing
from .workloads import CPUS, DOC_QUERIES

# end-to-end metrics (see README.md for their meaning per workload)
E2E_UNITS = {"setup_s": "s", "op_s_p50": "s", "throughput_per_s": "1/s", "peak_rss_mb": "MB"}

LAYER_UNITS = {
    "session.get_spark_s": "s",
    "loop.batches": "count",
    "loop.batch_s_p50": "s",
    "loop.init_s": "s",
    "loop.driver_self_s": "s",
    "loop.jobs_per_batch": "count",
    "loop.stages_per_batch": "count",
    "loop.tasks_per_batch": "count",
    "loop.core_busy_share": "ratio",
    "loop.cached_bytes_end": "bytes",
    "fetch.plan_s": "s",
    "fetch.write_s": "s",
    "fetch.rows": "count",
    "fetch.python_task_s": "s",
    "fetch.shuffle_bytes": "bytes",
    "admission.plan_s": "s",
    "admission.write_s": "s",
    "admission.candidates": "count",
    "admission.admitted": "count",
    "admission.admit_ratio": "ratio",
    "admission.shuffle_bytes": "bytes",
    "seen_filter.bloom_s": "s",
    "seen_filter.bloom_rebuild_s": "s",
    "sequence.stamp_s": "s",
    "storage.journal_s": "s",
    "storage.state_write_s": "s",
    "storage.commit_s": "s",
    "storage.compact_s": "s",
    "storage.read_frontier_s": "s",
    "storage.read_seen_s": "s",
    "storage.bytes_written": "bytes",
    "storage.files_written": "count",
    "stream.ticks": "count",
    "stream.resume_s_p50": "s",
    "stream.tick_slope_s": "s",
    **{f"pipelines.{q}.{k}": "s" for q in DOC_QUERIES for k in ("build_s", "exec_s")},
    "pipelines.core_busy_share": "ratio",
    "trace.overhead_share": "ratio",
}

_STATE_TABLES = {"budget", "strategy", "frontier", "hostlat"}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(wl, spans, jobs, stages, ops, mem) -> dict:
    """Every per-layer metric (0 for a layer the workload leaves idle)."""
    n_ops = max(1, len(ops))
    roots = [s for s in spans if s.name.startswith("op:")]
    in_op = [s for s in spans if s not in roots
             and any(r.t0 <= s.t0 <= r.t1 for r in roots)]
    kids = tracing.children_of(spans)

    def named(*names, loop_only=False):
        out = [s for s in in_op if s.name in names]
        return [s for s in out if s.batch is None or s.batch >= 0] if loop_only else out

    def secs(ss) -> float:
        return sum(s.dur for s in ss) / n_ops

    def tagged(ss):
        ids = {s.id for s in ss}
        return [st for st in stages.values() if st.span in ids]

    def window_stages(ss):
        wins = [(s.t0, s.t1) for s in ss]
        ids = {j.id for j in jobs.values() if any(a <= j.t_submit <= b for a, b in wins)}
        return [st for st in stages.values() if st.job in ids and st.tasks]

    m = {k: 0.0 for k in LAYER_UNITS}
    get_spark = [s for s in spans if s.name == "get_spark"]
    m["session.get_spark_s"] = get_spark[-1].dur if get_spark else 0.0

    runs = sorted(named("run_crawl"), key=lambda s: s.t0)
    if runs:
        fetched = named("write_table:fetched", loop_only=True)
        batches = len(fetched)
        per_run = [getattr(s.attrs.get("result"), "batch_seconds", None) or [] for s in runs]
        loop_st = window_stages(runs)
        run_wall = sum(s.dur for s in runs)
        m.update({
            "loop.batches": batches / n_ops,
            "loop.batch_s_p50": _median(b for bs in per_run for b in bs),
            "loop.init_s": secs(named("init_crawl")),
            "loop.driver_self_s": sum(tracing.self_time(s, kids) for s in runs) / n_ops,
            "loop.jobs_per_batch": len({st.job for st in loop_st}) / max(1, batches),
            "loop.stages_per_batch": len(loop_st) / max(1, batches),
            "loop.tasks_per_batch": sum(st.tasks for st in loop_st) / max(1, batches),
            "loop.core_busy_share": sum(st.task_s for st in loop_st) / (run_wall * CPUS),
            "loop.cached_bytes_end": mem["cached_bytes"],
            "fetch.plan_s": secs(named("select_fetch_batch", "fetch_scheduled")),
            "fetch.write_s": secs(fetched),
            "fetch.rows": sum(o.rows for o in ops) / n_ops,
            "fetch.python_task_s": sum(st.python_s for st in tagged(fetched)) / n_ops,
            "fetch.shuffle_bytes": sum(st.shuffle_write for st in tagged(fetched)) / n_ops,
            "admission.plan_s": secs(named("admit")),
            "admission.write_s": secs(named("write_table:admitted", loop_only=True)),
            "admission.shuffle_bytes": sum(
                st.shuffle_write for st in tagged(named("write_table:admitted", loop_only=True))
            ) / n_ops,
            "sequence.stamp_s": secs(named("with_sequence")),
            "storage.journal_s": secs(named("write_table:frontier_delta", loop_only=True)),
            "storage.state_write_s": secs(named(*(f"write_table:{t}" for t in _STATE_TABLES),
                                                loop_only=True)),
            "storage.commit_s": secs(named("commit", loop_only=True)),
            "storage.compact_s": secs(named("compact_seen")),
            "storage.read_frontier_s": secs(named("read_frontier")),
            "storage.read_seen_s": secs(named("read_seen", "read_seen_parts")),
            "storage.bytes_written": sum(o.storage[0] for o in ops) / n_ops,
            "storage.files_written": sum(o.storage[1] for o in ops) / n_ops,
        })
        cand = sum(o.out.get("candidates", 0) for o in ops)
        adm = sum(o.out.get("admitted", 0) for o in ops)
        m["admission.candidates"] = cand / n_ops
        m["admission.admitted"] = adm / n_ops
        m["admission.admit_ratio"] = adm / cand if cand else 0.0
        m.update(_bloom(in_op, runs, n_ops))
        if wl.streaming:
            ticks = [(s.dur, bs) for s, bs in zip(runs, per_run)]
            m["stream.ticks"] = len(ticks) / n_ops
            # the first tick also seeds the crawl (init_crawl); the others resume
            m["stream.resume_s_p50"] = _median(d - sum(bs) for d, bs in ticks[1:] if bs)
            resumed = [d for d, bs in ticks[1:] if bs]
            if len(resumed) >= 2:
                m["stream.tick_slope_s"] = statistics.linear_regression(
                    range(len(resumed)), resumed).slope

    if any(s.name.startswith("query:") for s in in_op):
        for q in DOC_QUERIES:
            m[f"pipelines.{q}.build_s"] = secs(named(f"query:{q}"))
            m[f"pipelines.{q}.exec_s"] = secs(named(f"exec:{q}"))
        work = [s for s in in_op if s.name.startswith(("query:", "exec:"))]
        pass_wall = sum(s.dur for s in work)
        m["pipelines.core_busy_share"] = (
            sum(st.task_s for st in window_stages(work)) / (pass_wall * CPUS)
        )
    return m


def _bloom(in_op, runs, n_ops) -> dict:
    """Bloom time at run_crawl entry (the rebuild from the whole seen set)
    versus per batch (delta build + OR-merge), each with the
    ``localCheckpoint`` that materializes it."""
    builds = sorted((s for s in in_op if s.name == "build_bloom_delta"), key=lambda s: s.t0)
    run_ids = {r.id for r in runs}
    rebuild_ids, seen_parent = set(), set()
    for s in builds:
        if s.parent in run_ids and s.parent not in seen_parent:
            seen_parent.add(s.parent)
            rebuild_ids.add(s.id)
    rebuild = per_batch = 0.0
    for s in in_op:
        if s.name == "build_bloom_delta":
            if s.id in rebuild_ids:
                rebuild += s.dur
            else:
                per_batch += s.dur
        elif s.name == "merge_blooms":
            per_batch += s.dur
        elif s.name.startswith("localCheckpoint:build_bloom_delta#"):
            if int(s.name.rsplit("#", 1)[1]) in rebuild_ids:
                rebuild += s.dur
        elif s.name.startswith("localCheckpoint:merge_blooms#"):
            per_batch += s.dur
    return {"seen_filter.bloom_s": per_batch / n_ops,
            "seen_filter.bloom_rebuild_s": rebuild / n_ops}


def workload_view(workload: str, metrics: dict, ops, mem) -> list[str]:
    """The run in the workload's own vocabulary, plus the memory and
    storage counters."""
    attempted = sum(o.attempted for o in ops)
    failed = sum(min(o.failed, o.attempted) for o in ops)
    rows = []
    if workload in ("crawl_wide", "stream_deep"):
        rows.append(("crawl_urls_per_s", metrics["throughput_per_s"], "1/s"))
    if workload == "stream_deep":
        rows.append(("tick_s_p50", metrics["op_s_p50"], "s"))
    if workload == "doc_pipelines":
        rows.append(("pipelines_s", metrics["op_s_p50"], "s"))
    rows += [
        ("failed_share", failed / attempted if attempted else 0.0, "ratio"),
        ("jvm_hwm_mb", mem["jvm_hwm_mb"], "MB"),
        ("python_hwm_mb", mem["python_hwm_mb"], "MB"),
        ("cached_bytes_end", mem["cached_bytes"], "bytes"),
    ]
    if workload != "doc_pipelines":
        rows += [("checkpoint_bytes", statistics.median(o.storage[0] for o in ops), "bytes"),
                 ("checkpoint_files", statistics.median(o.storage[1] for o in ops), "count")]
    return [f"# {k:<38} {v:>16.6g} {u}" for k, v, u in rows]


def span_lines(spans, stages, jobs) -> list[str]:
    """The per-span table: calls, total and self seconds, and the Spark
    jobs, stages, tasks, task seconds and shuffle bytes each span's own
    calls submitted."""
    out = [f"# {'span':<34} {'calls':>5} {'total_s':>8} {'self_s':>8} {'jobs':>5} "
           f"{'stages':>6} {'tasks':>6} {'task_s':>8} {'shuffle_b':>11}"]
    for r in tracing.span_table(spans, stages, jobs):
        out.append(f"# {r['name'][:34]:<34} {r['calls']:>5} {r['total_s']:>8.2f} "
                   f"{r['self_s']:>8.2f} {r['jobs']:>5} {r['stages']:>6} {r['tasks']:>6} "
                   f"{r['task_s']:>8.2f} {r['shuffle_bytes']:>11}")
    return out
