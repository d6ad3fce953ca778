"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload mail_fetch --seed 1 --seconds 15 --trace 0

Run from the repository root. The run builds its inputs from ``--seed``,
sets the Spark session up and runs the first operations of the workload's
schedule as warm-up (both timed, as ``setup_s``), then measures the rest of
a fixed plan of round(--seconds / 15) whole repetitions on fresh sinks,
checks every operation against the workload's model and prints one JSON
object as the last line of stdout:

    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is the traced
run: Spark's event log is on, and the plan runs twice in lockstep on
separate sinks, one operation of each copy in turn: untraced, and traced
with spans, Observations and layer-prefix timings. The per-layer metrics are
reported (``trace.overhead_ratio`` is traced / untraced operation time).
Span files and per-layer numbers go to ``.perfbench/traces/``. A readable
report goes to stderr. Everything else the run writes lives under a
temporary ``.perfbench/run-*`` directory that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from itertools import islice, zip_longest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# The warm-up is the first operations of the first repetition, timed as
# part of set-up: the JVM keeps compiling hot paths for many operations,
# and a warm-up on toy inputs left measured operations speeding up by a
# third over a run.
WARMUP_OPS = {"mail_fetch": 1, "cdc_merge": 10, "doc_dedup": 2}

# A run measures a fixed plan: round(--seconds / REP_SECONDS) whole
# repetitions (at least one). REP_SECONDS is a nominal constant, not a
# measurement, so the operations a run measures never depend on how fast
# the program is, and every run's medians cover the same positions.
REP_SECONDS = 15.0

# Sizes per workload. The seed changes content, never sizes. Where the
# figures come from is in METRICS.md, "Generated inputs".
SIZES = {
    # 1 fill + 1 warm-up + 6 measured cycles; the events fixture has one
    # user per 66.7 events (1500 per 100000), so 36000 events have 540 users
    "mail_fetch": {"cycles": 8, "window": 8000, "step": 4000, "users": 540},
    # 4 lookups per merge batch: an 80/20 read/write mix by client request
    "cdc_merge": {
        "initial_keys": 20000, "batches": 7, "batch_rows": 2000,
        "mix": (0.60, 0.25, 0.15), "zipf_a": 1.3, "lookups": 4,
        "hit_share": 0.5, "buckets": 16, "compact_every": 3,
    },
    # enough boilerplate docs that, for every seed tried, each LSH band's
    # largest bucket exceeds incremental_near_dup's sink-side cap (1000)
    "doc_dedup": {
        "corpus_docs": 1700, "boiler_docs": 1500, "batches": 8,
        "batch_docs": 100, "doc_words": 40, "vocab": 5000,
        "shares": {"exact": 0.1, "near_hi": 0.1, "near_lo": 0.1, "boiler": 0.2},
    },
}

DRIVER_MEM = "2g"  # well below RAM; the session default is 24g

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "rows_per_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.paginated.scan_s": "s",
    "sources.paginated.rows_scanned": "count",
    "sources.paginated.rows_emitted": "count",
    "sources.paginated.keep_ratio": "ratio",
    "sources.paginated.partitions": "count",
    "sources.batched_sink.id_scan_s": "s",
    "sources.batched_sink.files_live": "count",
    "sources.batched_sink.id_scan_tasks": "count",
    "sources.batched_sink.write_s": "s",
    "sources.batched_sink.rows_written": "count",
    "sources.batched_sink.batches_failed": "count",
    "sources.batched_sink.files_written": "count",
    "sources.batched_sink.bytes_per_row": "B",
    "operators.incremental.anti_join_s": "s",
    "operators.incremental.build_rows": "count",
    "operators.incremental.build_bytes_est": "B",
    "operators.incremental.fresh_ratio": "ratio",
    "functions.headers.extract_dedup_s": "s",
    "functions.headers.dups_dropped": "count",
    "streaming.merge_manifest.merge_s": "s",
    "streaming.merge_manifest.buckets_touched_ratio": "ratio",
    "streaming.merge_manifest.write_amp": "ratio",
    "streaming.merge_manifest.lookup_s": "s",
    "streaming.merge_manifest.lookup_bytes_read": "B",
    "streaming.merge_manifest.files_live": "count",
    "streaming.merge_manifest.versions_live": "count",
    "streaming.merge_manifest.compact_s": "s",
    "streaming.merge_manifest.compact_bytes_rewritten": "B",
    "streaming.merge_manifest.vacuum_s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.grams_batch_s": "s",
    "operators.dedup.grams_sink_s": "s",
    "operators.dedup.band_join_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.capped_buckets": "count",
    "operators.dedup.verify_s": "s",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.candidate_precision": "ratio",
    "operators.dedup.recall": "ratio",
    "streaming.dedup_ingest.snapshot_write_s": "s",
    "streaming.dedup_ingest.snapshot_rows": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.broadcast_bytes": "B",
    "spark.gc_s": "s",
    "trace.overhead_ratio": "ratio",
    "workload.failed_op_ratio": "ratio",
    "workload.peak_rss_mb": "MB",
    "workload.op_s_tail": "s",
    "workload.op_tail_pct": "pct",
    "workload.op_samples": "count",
    "workload.lookup_s_p50": "s",
    "workload.lookup_s_tail": "s",
    "workload.lookup_tail_pct": "pct",
    "workload.lookup_samples": "count",
}

# what op_s_p50 / rows_per_s mean on each workload, for the stderr report
ALIASES = {
    "mail_fetch": ("fetch_cycle_s_p50", "ingest_rows_per_s"),
    "cdc_merge": ("merge_batch_s_p50", "cdc_rows_per_s"),
    "doc_dedup": ("dedup_batch_s_p50", "dedup_docs_per_s"),
}


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest of p99/p95/p90/p75/p50 that still
    has at least ten samples above it; with fewer than 20 samples, the
    maximum (reported as percentile 100)."""
    xs = sorted(values)
    n = len(xs)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return float(p), xs[min(n - 1, int(n * p / 100))]
    return 100.0, xs[-1] if xs else 0.0


def pin_environment(tmp: str, cores: int, event_log: str | None) -> None:
    """Pin the session to the machine it runs on before the JVM starts: all
    cores, driver memory below RAM, every scratch path inside the run
    directory, and the package importable by Python DataSource workers."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata under /tmp: the run writes only inside its checkout
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if event_log:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{event_log}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


class Session:
    """Owns the Spark session and the JVM behind it for one run."""

    def __init__(self) -> None:
        self.spark = None
        self.jvm_pid = None

    def start(self):
        from gmail_bigquery_etl_spark.session import get_spark
        from gmail_bigquery_etl_spark.sources import batched_sink, paginated
        from pyspark import SparkContext

        self.spark = get_spark("perfbench")
        paginated.register(self.spark)
        batched_sink.register(self.spark)
        proc = getattr(SparkContext._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None
        return self.spark

    def close(self) -> None:
        """Stop the session, shut the gateway and wait for the JVM."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def start_rep(wl, ctx, warmup: int):
    """Start repetition 0 and run its first ``warmup`` operations, the
    run's warm-up. Returns (the repetition's generator, warm-up ops)."""
    gen = wl.run_rep(ctx, 0)
    return gen, _noted(islice(gen, warmup))


def run_reps(wl, ctx, gen, reps: int) -> list:
    """Finish repetition 0 from ``gen``, then replay repetitions
    1..reps-1 in full."""
    ops = _noted(gen)
    for rep in range(1, reps):
        ops += _noted(wl.run_rep(ctx, rep))
    return ops


def run_lockstep(wl, ctx, tctx, pair, reps: int) -> tuple[list, list]:
    """The traced run: each repetition runs twice, untraced on ``ctx`` and
    traced on ``tctx``, one operation of each in turn, on separate sinks.
    Both copies of an operation meet the same JIT warmth and host load, so
    their time ratio is the tracing overhead. ``pair`` holds the two
    generators of repetition 0. Returns (untraced, traced) ops."""
    base, traced = [], []
    for rep in range(reps):
        if rep:
            pair = (wl.run_rep(ctx, rep), wl.run_rep(tctx, rep))
        for b, t in zip_longest(*pair):
            base += _noted([b] if b is not None else [])
            traced += _noted([t] if t is not None else [])
    return base, traced


def _noted(ops) -> list:
    out = []
    for op in ops:
        for e in op.errors:
            print(f"# FAILED {op.kind}: {e}", file=sys.stderr)
        out.append(op)
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(wl, ops, setup_s: float) -> dict:
    """``op_s_p50`` is the median primary operation, so one stalled
    operation does not move it. ``rows_per_s`` is closed-loop throughput:
    rows the primary operations applied, over the wall time of every
    measured operation (on cdc_merge also lookups and maintenance)."""
    ok = [o for o in ops if not o.errors]
    prim = [o for o in ok if o.kind == wl.primary]
    busy = sum(o.seconds for o in ok)
    return {
        "setup_s": setup_s,
        "op_s_p50": _median([o.seconds for o in prim]),
        "rows_per_s": sum(o.rows for o in prim) / busy if busy else 0.0,
    }


def workload_stats(wl, ops) -> dict:
    prim = [o.seconds for o in ops if o.kind == wl.primary and not o.errors]
    look = [o.seconds for o in ops if o.kind == "lookup" and not o.errors]
    p, v = tail(prim)
    out = {
        "workload.failed_op_ratio": sum(1 for o in ops if o.errors) / max(1, len(ops)),
        "workload.op_s_tail": v,
        "workload.op_tail_pct": p,
        "workload.op_samples": len(prim),
        "workload.lookup_samples": len(look),
        "workload.lookup_s_p50": _median(look),
    }
    lp, lv = tail(look) if look else (0.0, 0.0)
    out["workload.lookup_s_tail"] = lv
    out["workload.lookup_tail_pct"] = lp
    return out


def per_layer(wl, ops, base_ops, counters, extra) -> dict:
    """Medians over the traced operations of every per-layer metric; 0 for
    layers this workload does not load. ``base_ops`` are the untraced
    operations of the same run, ``counters`` the event-log counters per job
    group, ``extra`` the run-level figures (set-up, memory)."""
    from collections import defaultdict

    vals = defaultdict(list)
    for o in ops:
        for k, v in o.layer.items():
            vals[k].append(v)
    out = {k: 0.0 for k in PER_LAYER}
    out.update({k: _median(v) for k, v in vals.items() if k in PER_LAYER})
    look = [o for o in ops if o.kind == "lookup"]
    if look:
        out["streaming.merge_manifest.lookup_s"] = _median([o.seconds for o in look])
        out["streaming.merge_manifest.lookup_bytes_read"] = _median(
            [counters.get(o.tag, {}).get("input_bytes", 0.0) for o in look]
        )
    prim = [o for o in ops if o.kind == wl.primary]
    for name, key in (
        ("spark.jobs", "jobs"), ("spark.tasks", "tasks"),
        ("spark.shuffle_write_bytes", "shuffle_write_bytes"),
        ("spark.broadcast_bytes", "broadcast_bytes"), ("spark.gc_s", "gc_s"),
    ):
        out[name] = _median([counters.get(o.tag, {}).get(key, 0.0) for o in prim])
    t_base = sum(o.seconds for o in base_ops if o.kind == wl.primary)
    t_traced = sum(o.seconds for o in prim)
    out["trace.overhead_ratio"] = t_traced / t_base if t_base else 0.0
    out.update(workload_stats(wl, base_ops))
    out.update(extra)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    from tracing import Fingerprint

    import workloads  # fails fast when the package is not importable
    cores = len(os.sched_getaffinity(0))
    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    event_log = os.path.join(tmp, "eventlog") if args.trace else None
    if event_log:
        os.makedirs(event_log)
    pin_environment(tmp, cores, event_log)
    fp = Fingerprint()
    session = Session()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, workloads, cores, tmp, event_log, fp, session)
    finally:
        session.close()
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, workloads, cores, tmp, event_log, fp, session) -> int:
    from tracing import Tracer, event_log_counters, peak_rss_mb

    wl = workloads.WORKLOADS[args.workload](SIZES[args.workload])
    tracer = Tracer(bool(args.trace))
    ctx = workloads.Ctx(None, Tracer(False), cores, tmp, args.seed)
    # Set-up runs once: a second one (stop, restart, warm up again) costs
    # about 13 s on 4 cores, which the benchmark's time budget cannot hold.
    with tracer.span("session.setup", "setup"):
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            ctx.spark = session.start()
        t1 = time.perf_counter()
        with tracer.span("session.warmup"):
            gen, warm_ops = start_rep(wl, ctx, WARMUP_OPS[args.workload])
        setup_s = time.perf_counter() - t0
    reps = max(1, round(args.seconds / REP_SECONDS))
    if not args.trace:
        ops = run_reps(wl, ctx, gen, reps)
        metrics = end_to_end(wl, ops, setup_s)
        units = END_TO_END
        report = {**metrics, **workload_stats(wl, ops),
                  "workload.peak_rss_mb": peak_rss_mb(session.jvm_pid)}
    else:
        # the traced copy warms up alone and untraced, then tracing turns
        # on and both copies run in lockstep
        tctx = workloads.Ctx(ctx.spark, Tracer(False), cores,
                             ctx.fresh("traced"), args.seed, "traced-")
        tgen, t_warm = start_rep(wl, tctx, WARMUP_OPS[args.workload])
        tctx.tracer = tracer
        base_ops, ops = run_lockstep(wl, ctx, tctx, (gen, tgen), reps)
        warm_ops += t_warm
        time.sleep(0.5)  # let the listener bus flush the last events
        counters = event_log_counters(event_log)
        metrics = per_layer(
            wl, ops, base_ops, counters,
            {"session.start_s": t1 - t0,
             "session.warmup_s": setup_s - (t1 - t0),
             "workload.peak_rss_mb": peak_rss_mb(session.jvm_pid)},
        )
        units = PER_LAYER
        report = dict(metrics)
        out_dir = os.path.join(WORK, "traces")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
        tracer.write(stem + "-spans.jsonl")
        with open(stem + "-layers.json", "w") as f:
            json.dump({"metrics": metrics, "self_time_s": tracer.self_times()}, f, indent=1)
        ops = base_ops + ops
    ops = warm_ops + ops
    failed = sum(1 for o in ops if o.errors)
    alias_op, alias_rows = ALIASES[args.workload]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "aliases": {alias_op: report.get("op_s_p50"), alias_rows: report.get("rows_per_s")},
        "report": report, "inputs": wl.props, "environment": fp.finish(),
        "op_seconds": {
            k: [round(o.seconds, 3) for o in ops if o.kind == k]
            for k in sorted({o.kind for o in ops})
        },
    }, indent=1, default=float), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
