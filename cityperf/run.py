#!/usr/bin/env python3
"""cityperf: end-to-end and per-layer benchmark of citydata_etl_spark.

    python3 cityperf/run.py --workload city_lifecycle --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one closed-loop pass at a time,
local[min(4, cpus)] task slots. The last stdout line is the result JSON;
the line before it carries the run's details (host stamps, per-pass walls,
sample counts). Exits 1 if any output differs from its oracle or, in a
traced run, if the layer times cover less than 90 % of the pass; 2 if the
package is not next to this directory. See cityperf/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import numpy as np

HEAP = "2g"
MAX_SLOTS = 4
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The batch_ms tail percentile of each workload, fixed so that baseline and
# change compare the same percentile. Each is the highest multiple of 5 (at
# most 90) with at least ten samples beyond it at today's sample counts:
# 25 data-carrying micro-batches per event_stream pass, 71 and 87-89 Spark
# jobs per city_lifecycle and corpus_search pass. A run with fewer samples
# than that says so in detail.batch_tail_undersampled and on stderr.
BATCH_TAIL_Q = {"city_lifecycle": 85, "event_stream": 60, "corpus_search": 85}
MIN_BEYOND = 10
MIN_COVERAGE = 0.9  # traced run: layer times must cover this share of the pass

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "rows_per_s": "1/s", "batch_ms.p50": "ms",
    "batch_ms.p90": "ms", "correct_ratio": "ratio", "peak_rss_mb": "MB",
}


def start_spark(work: str, slots: int):
    from citydata_etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "cityperf",
        master=f"local[{slots}]",
        shuffle_partitions=slots,
        extra_conf={
            # fixed heap: -Xms = -Xmx, so heap growth is not part of a pass
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def checkpoint_dirs(tmp: str) -> list[str]:
    """Streaming checkpoint directories (they hold an offsets/ log) left
    under the run's temp root by Spark or the package."""
    found = []
    for d, dirs, _files in os.walk(tmp):
        if "offsets" in dirs:
            found.append(d)
            dirs.clear()
    return found


def leaks(spark, tmp: str) -> dict:
    from cityperf.trace import persisted_mb

    return {
        "session.tables_left": len(spark.catalog.listTables()),
        "caching.persisted_mb_left": persisted_mb(spark),
        "streaming.ckpt_dirs_left": len(checkpoint_dirs(tmp)),
    }


def cleanup(spark, tmp: str, pass_dir: str) -> None:
    """Between passes, untimed: keyed and scoped caches, memory-sink tables
    and temp views, leftover checkpoints, the pass's output, then a Python
    and a JVM collection."""
    from citydata_etl_spark.caching import release_caches

    release_caches()
    for t in spark.catalog.listTables():
        spark.catalog.dropTempView(t.name)
    for d in checkpoint_dirs(tmp):
        shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(pass_dir, ignore_errors=True)
    gc.collect()
    spark._jvm.System.gc()


class KeyedHits:
    """Counts keyed-cache hits by wrapping caching.keyed_persist (callers
    import it at call time). Installed in traced runs only; counts in traced
    passes only."""

    def __init__(self):
        import citydata_etl_spark.caching as caching

        self.orig = caching.keyed_persist
        self.hits = 0
        self.on = False

        def counted(key, build):
            if self.on and caching.keyed_get(key) is not None:
                self.hits += 1
            return self.orig(key, build)

        caching.keyed_persist = counted


def run(args, work: str) -> tuple[dict, dict]:
    from citydata_etl_spark.plans.catalog import load_all

    from cityperf import trace
    from cityperf.workloads import WORKLOADS

    tmp = os.path.join(work, "tmp")
    slots = min(MAX_SLOTS, len(os.sched_getaffinity(0)))
    detail: dict = {"workload": args.workload, "seed": args.seed,
                    "trace": args.trace, "loadavg_before": os.getloadavg()}

    t0 = time.perf_counter()
    phases = detail["phases_s"] = {}
    spark = start_spark(work, slots)
    try:
        phases["session"] = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._gateway.proc.pid
        detail.update(trace.host_stamp(spark, slots))
        load_all()  # importing the package's catalog is part of set-up
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "inputs"), args.seed)
        setup_s = time.perf_counter() - t0
        phases["inputs"] = setup_s - phases["session"]
        t1 = time.perf_counter()
        wl.prepare_oracle()
        phases["oracle"] = time.perf_counter() - t1
        reader = trace.StatusReader(spark)
        reader.new_jobs()
        hits = KeyedHits() if args.trace else None

        # Untraced: passes until --seconds of pass time, at least one; the
        # first is the session's first. Traced: that first pass traced (the
        # per-layer figures), then two untraced warm passes for the drift.
        plan = TRACED_PLAN if args.trace else []
        checks, passes, samples = [], [], []
        layers: dict = {}
        failed_ops = 0
        while len(passes) < len(plan) or (
                not plan and (sum(w for w, _ in passes) < args.seconds or not passes)):
            traced = plan[len(passes)] if plan else False
            tr = trace.Tracer(spark, traced)
            pdir = os.path.join(work, f"pass-{len(passes)}")
            if traced:
                reader.new_executions()
            if hits:
                hits.on, hits.hits = traced, 0
            start = time.perf_counter()
            try:
                out = wl.run_pass(tr, pdir)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed_ops += 1
                break
            wall = time.perf_counter() - start
            passes.append((wall, traced))
            if args.tamper:
                wl.tamper(out)
            checks.append(wl.check(out))
            leak = leaks(spark, tmp)
            jobs = reader.new_jobs()
            samples += wl.batch_samples(out, jobs)
            if traced and not layers:
                layers = per_layer(wl, tr, out, jobs, reader, wall, hits.hits, leak)
            cleanup(spark, tmp, pdir)
        if args.trace:
            checks.append({"trace.coverage":
                           layers.get("trace.coverage", 0.0) >= MIN_COVERAGE})
        detail["peak_rss_mb"] = trace.peak_rss_mb(jvm_pid)
        detail["default_parallelism_end"] = spark.sparkContext.defaultParallelism
    finally:
        t1 = time.perf_counter()
        stop_spark(spark)
        phases["stop"] = time.perf_counter() - t1
    detail["loadavg_after"] = os.getloadavg()

    attempted = sum(len(c) for c in checks) + failed_ops
    failed = sum(not ok for c in checks for ok in c.values()) + failed_ops
    walls = [w for w, _ in passes]
    detail["mismatches"] = [k for c in checks for k, ok in c.items() if not ok]
    detail["pass_walls_s"] = walls
    detail["pass_s_samples"] = len(walls)
    detail["batch_samples"] = len(samples)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if args.trace:
        figures = dict(layers)
        figures["pass_s.drift"] = trace.slope(walls[1:])
        figures["pass_s.samples"] = len(walls)
        result["metrics"] = {k: {"value": figures.get(k, 0.0), "unit": u}
                             for k, u in sorted(PER_LAYER_UNITS.items())}
    else:
        pass_s = statistics.median(walls) if walls else 0.0
        q = BATCH_TAIL_Q[args.workload]
        detail["batch_tail_percentile"] = q
        if trace.beyond(len(samples), q) < MIN_BEYOND:
            detail["batch_tail_undersampled"] = True
            print(f"cityperf: {len(samples)} batch samples leave fewer than "
                  f"{MIN_BEYOND} beyond p{q}", file=sys.stderr)
        values = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "rows_per_s": wl.input_rows / pass_s if pass_s else 0.0,
            "batch_ms.p50": float(np.percentile(samples, 50)) if samples else 0.0,
            "batch_ms.p90": float(np.percentile(samples, q)) if samples else 0.0,
            "correct_ratio": (attempted - failed) / attempted,
            "peak_rss_mb": detail["peak_rss_mb"],
        }
        result["metrics"] = {k: {"value": v, "unit": END_TO_END[k]}
                             for k, v in values.items()}
    return result, detail


TRACED_PLAN = [True, False, False]
LAYER_SPANS = {  # per-layer time metric -> span layers it sums
    "sources.read_ms": ["sources.read"],
    "sources.write_ms": ["sources.write", "sources.merge"],
    "etl.collect_ms": ["etl.collect"],
    "etl.promote_ms": ["etl.promote"],
    "operators.relational.self_ms": ["operators.relational"],
    "operators.joins.self_ms": ["operators.joins"],
    "operators.aggregates.self_ms": ["operators.aggregates"],
    "operators.similarity.self_ms": ["operators.similarity"],
    "operators.dedup.self_ms": ["operators.dedup"],
    "operators.text.self_ms": ["operators.text"],
    "streaming.self_ms": ["streaming"],
}
STAGE_SUMS = ["executorRunTime", "shuffleReadBytes", "shuffleWriteBytes"]
SHUFFLE_LAYERS = ["operators.relational", "operators.joins", "operators.aggregates"]
PYTHON_METRICS = {
    "python.total_ms": "time to run Python workers",
    "python.boot_ms": "time to start Python workers",
    "python.bytes_sent": "data sent to Python workers",
    "python.bytes_received": "data returned from Python workers",
}

PER_LAYER_UNITS = {
    **{k: "ms" for k in LAYER_SPANS},
    **{f"{layer}.shuffle_bytes": "bytes" for layer in SHUFFLE_LAYERS},
    "sources.bytes_written": "bytes", "sources.files_written": "count",
    "sources.merge.buckets_rewritten": "count", "sources.merge.write_amp": "ratio",
    "etl.fetch_calls": "count", "etl.fetch_errors": "count",
    "operators.similarity.plan_ms": "ms",
    "operators.similarity.candidates_scored": "count",
    "operators.similarity.recall_at_5": "ratio",
    "operators.dedup.candidates": "count", "operators.dedup.verified_ratio": "ratio",
    "streaming.addBatch_ms": "ms", "streaming.queryPlanning_ms": "ms",
    "streaming.getBatch_ms": "ms", "streaming.walCommit_ms": "ms",
    "streaming.state.commit_ms": "ms", "streaming.state.rows_total": "count",
    "streaming.state.memory_bytes": "bytes",
    "streaming.state.memory_bytes_slope": "bytes/batch",
    "streaming.rows_dropped_by_watermark": "count",
    "caching.keyed_hits": "count", "caching.persisted_mb_peak": "MB",
    "spark.plan_ms": "ms", "spark.driver_gap_ms": "ms", "spark.jobs": "count",
    "spark.stages": "count", "spark.executor_run_ms": "ms",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "python.total_ms": "ms", "python.boot_ms": "ms",
    "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
    "session.tables_left": "count", "caching.persisted_mb_left": "MB",
    "streaming.ckpt_dirs_left": "count", "pass_s.drift": "s/pass",
    "pass_s.samples": "count", "trace.coverage": "ratio", "trace.overhead_s": "s",
}


def per_layer(wl, tr, out, jobs, reader, wall, keyed_hits, leak) -> dict:
    """Every per-layer figure of one traced pass; zero where a layer did no
    work on this workload."""
    from cityperf import trace

    trace.attribute(tr, jobs)
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages: dict[int, dict] = {}  # stage id -> its completed attempts summed
    for s in reader.stages(stage_ids):
        acc = stages.setdefault(s["stageId"], dict.fromkeys(STAGE_SUMS, 0))
        for k in STAGE_SUMS:
            acc[k] += s[k]
    executions = reader.new_executions()
    fig = {k: 0.0 for k in PER_LAYER_UNITS}
    fig.update(trace.layer_ms(tr.spans, LAYER_SPANS))
    for layer in SHUFFLE_LAYERS:
        fig[f"{layer}.shuffle_bytes"] = sum(
            stages[s]["shuffleWriteBytes"] for sp in tr.spans if sp.layer == layer
            for j in sp.jobs for s in j["stageIds"] if s in stages)
    plan = gap = 0.0
    for sp in tr.spans:
        p, g = trace.timeline(sp)
        plan, gap = plan + p, gap + g
    fig.update({
        "spark.plan_ms": plan,
        "spark.driver_gap_ms": gap,
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.executor_run_ms": sum(s["executorRunTime"] for s in stages.values()),
        "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages.values()),
        "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages.values()),
        "caching.keyed_hits": keyed_hits,
        "caching.persisted_mb_peak": tr.storage_mb_peak,
        "trace.coverage": trace.coverage(
            {k: fig[k] for k in LAYER_SPANS}, wall),
        "trace.overhead_s": tr.own_s,
        **leak,
    })
    for metric, name in PYTHON_METRICS.items():
        fig[metric] = trace.node_metrics(executions, lambda _n: True, name)
    fig.update(wl.layer_figures(tr, out, executions))
    return fig


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["city_lifecycle", "event_stream", "corpus_search"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tamper", action="store_true",
                    help="drop one output row before checking (tests only)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "citydata_etl_spark", "__init__.py")):
        print("cityperf: citydata_etl_spark/ not found next to cityperf/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, "cityperf", ".work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    time.tzset()
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        result, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
