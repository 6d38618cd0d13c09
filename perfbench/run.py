"""Repository benchmark: one closed-loop workload per process at local[4].

    python3 perfbench/run.py --workload stream_deep --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints one line per metric (name, value,
unit) and, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run is traced and
the metrics are the per-layer ones. See perfbench/README.md.

Everything the run writes goes under ``.perfbench/`` in the repository
root: a per-run directory (removed at exit) and a cache of oracle
references and untraced operation walls, keyed by a hash of the engine
and benchmark sources.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

WORKLOADS = ("crawl_wide", "stream_deep", "doc_pipelines")
DRIVER_MEM = "3g"     # sized for a 15 GB machine; the engine defaults to 48g
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _log(msg: str) -> None:
    """Phase timestamps on standard error, seconds since process start."""
    print(f"perfbench: +{time.time() - T_PROCESS:6.1f}s {msg}", file=sys.stderr, flush=True)


def _source_key() -> str:
    """Hash of every file of the engine and of the benchmark, so nothing
    cached by other code is reused."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for top in ("crawler_distributed_spark", "perfbench"):
        for dirpath, dirs, names in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            files += [os.path.join(dirpath, n) for n in sorted(names)
                      if not n.endswith(".pyc")]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(run_dir: str) -> None:
    """Point every writer (Spark local dirs, JVM and Python temp files,
    Python workers' import path) inside the repository."""
    sys.path.insert(0, ROOT)
    from perfbench.workloads import CPUS

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher and the driver): temp files here, no
    # hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def _spark_conf(run_dir: str, event_log: bool) -> dict:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.checkpoint.dir": os.path.join(run_dir, "checkpoint"),
        # G1 (the default) grows the heap when its recent GC time share is
        # high, so the JVM's peak RSS follows the machine's load: 1.5-2.4 GB
        # over identical runs. The parallel collector with its sizes fixed
        # (adaptive sizing off, the whole heap reserved, a 512 MB young
        # generation) touches the old generation only as far as objects
        # are promoted into it, which the run's own allocations decide.
        "spark.driver.extraJavaOptions": (
            f"-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xms{DRIVER_MEM} -Xmn512m"
        ),
    }
    if event_log:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def _closed_loop(wl, spark, seconds: float):
    """Run operations back to back. Another starts only while the window
    has room for one of median length; the first always runs."""
    ops, t_start = [], time.time()
    while True:
        t0 = time.time()
        ops.append(wl.run_op(spark, len(ops)))
        ops[-1].elapsed = time.time() - t0
        med = statistics.median(o.elapsed for o in ops)
        if time.time() - t_start + med > seconds:
            return ops


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        proc.wait(timeout=120)


def _untraced_walls(args, walls_path: str) -> list[float]:
    """Operation walls of the untraced runs of this workload, any seed, on
    the same sources; with none yet, make one in a child process (a JVM
    cannot be restarted in this one: module-level UDFs keep the first
    gateway)."""
    from perfbench import workloads

    if not workloads.load_json(walls_path):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", "0", "--trace", "0"],
            cwd=ROOT, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=170,
        )
    return workloads.load_json(walls_path)


def main(argv=None) -> int:
    args = _parse(argv)
    if not (os.path.isdir(os.path.join(ROOT, "crawler_distributed_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    cache_dir = os.path.join(work, "cache", _source_key())
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(cache_dir, exist_ok=True)
    _environment(run_dir)
    try:
        result, lines = _bench(args, cache_dir, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


def _bench(args, cache_dir: str, run_dir: str):
    from perfbench import counters, layers, tracing, workloads

    wl = workloads.make(args.workload, args.seed, cache_dir, run_dir)
    t_gen = time.time()
    wl.prepare()
    gen_s = time.time() - t_gen  # input generation, not part of set-up

    from crawler_distributed_spark import session

    base_conf = _spark_conf(run_dir, event_log=False)
    walls_path = os.path.join(cache_dir, f"walls-{args.workload}.json")
    spark = None
    try:
        if not args.trace:
            spark = session.get_spark(cpus=workloads.CPUS, extra_conf=base_conf)
            wl.warm_up(spark)
            setup_s = time.time() - T_PROCESS - gen_s
            _log(f"set-up and warm-up done in {setup_s:.2f}s")
            ops = _closed_loop(wl, spark, args.seconds)
            _log(f"{len(ops)} operation(s) done")
            workloads.save_json(walls_path, (workloads.load_json(walls_path) or [])
                                + [o.wall for o in ops if not o.error])
            mem = counters.memory(spark)
            wl.check(spark, ops)
            _log("checks done")
            metrics = dict(setup_s=setup_s, **wl.e2e(ops), peak_rss_mb=mem["peak_rss_mb"])
            units = layers.E2E_UNITS
            extra = layers.workload_view(args.workload, metrics, ops, mem)
        else:
            untraced = _untraced_walls(args, walls_path)
            _log("untraced reference ready")
            # one operation traced: event log on, wrappers installed after
            # the warm-up
            rec = tracing.Recorder()
            spark = rec.call("get_spark", session.get_spark, cpus=workloads.CPUS,
                             extra_conf=_spark_conf(run_dir, event_log=True))
            wl.warm_up(spark)
            rec.sc = spark.sparkContext
            wl.recorder = rec
            wl.layer_counts = True
            tracing.install(rec)
            try:
                rec.op = 0
                root = rec.open(f"op:{args.workload}")
                rec.op_root = root.id
                try:
                    ops = [wl.run_op(spark, 0)]
                finally:
                    rec.close(root)
                    rec.op_root = None
                _log("traced operation done")
                mem = counters.memory(spark)
                wl.check(spark, ops)
            finally:
                rec.uninstall()
            _stop(spark)
            spark = None
            jobs, stages = tracing.read_event_log(os.path.join(run_dir, "eventlog"))
            tracing.write_spans(rec.spans, os.path.join(
                ROOT, ".perfbench", "traces", f"{args.workload}-{args.seed}.jsonl"))
            metrics = layers.per_layer(wl, rec.spans, jobs, stages, ops, mem)
            metrics["trace.overhead_share"] = ops[0].wall / statistics.median(untraced) - 1.0
            units = layers.LAYER_UNITS
            extra = layers.span_lines(rec.spans, stages, jobs)
    finally:
        if spark is not None:
            _stop(spark)
    _log("stopped")

    attempted = sum(o.attempted for o in ops)
    failed = sum(min(o.failed, o.attempted) for o in ops)
    lines = [f"# workload={args.workload} seed={args.seed} trace={args.trace} "
             f"ops={len(ops)} attempted={attempted} failed={failed}"]
    lines += [f"#   error: {o.error}" for o in ops if o.error]
    lines += [f"{k:<40} {v:>16.6g} {units[k]}" for k, v in metrics.items()]
    lines += extra
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, lines


if __name__ == "__main__":
    sys.exit(main())
