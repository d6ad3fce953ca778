"""Smoke test of the benchmark itself, at tiny sizes, in one Spark session.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402

TINY = {
    "mail_fetch": {"cycles": 3, "window": 600, "step": 300, "users": 30},
    "cdc_merge": {
        "initial_keys": 300, "batches": 2, "batch_rows": 60,
        "mix": (0.6, 0.25, 0.15), "zipf_a": 1.3, "lookups": 3,
        "hit_share": 0.67, "buckets": 4, "compact_every": 2,
    },
    "doc_dedup": {
        "corpus_docs": 80, "boiler_docs": 20, "batches": 2, "batch_docs": 20,
        "doc_words": 30, "vocab": 2000,
        "shares": {"exact": 0.1, "near_hi": 0.1, "near_lo": 0.1, "boiler": 0.2},
    },
}


@pytest.fixture(scope="module")
def ctx():
    from tracing import Tracer
    from workloads import Ctx

    os.makedirs(run.WORK, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="test-", dir=run.WORK)
    run.pin_environment(tmp, 2, None)
    session = run.Session()
    try:
        yield Ctx(session.start(), Tracer(False), 2, tmp, 7)
    finally:
        session.close()
        shutil.rmtree(tmp, ignore_errors=True)


def _traced(ctx):
    """A traced context on the same session, writing under ``ctx``."""
    from tracing import Tracer
    from workloads import Ctx

    return Ctx(ctx.spark, Tracer(True), 2, ctx.fresh("traced"), 7, "traced-")


def _reps(ctx, name, **kw):
    """One whole repetition of a workload at tiny sizes."""
    from workloads import WORKLOADS

    wl = WORKLOADS[name](TINY[name], **kw)
    return wl, list(wl.run_rep(ctx, 0))


def test_every_workload_emits_every_metric_in_benchmark_json(ctx):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(TINY)
    from workloads import WORKLOADS

    for name in TINY:
        wl = WORKLOADS[name](TINY[name])
        tctx = _traced(ctx)
        pair = (wl.run_rep(ctx, 0), wl.run_rep(tctx, 0))
        base, ops = run.run_lockstep(wl, ctx, tctx, pair, 1)
        assert len(base) == len(ops) > 0
        assert not [o.errors for o in base + ops if o.errors]
        e2e = run.end_to_end(wl, base, 1.0)
        assert set(e2e) == set(run.END_TO_END)
        assert all(v > 0 for v in e2e.values()), e2e
        layers = run.per_layer(wl, ops, base, {}, {})
        assert set(layers) == set(run.PER_LAYER)
        assert tctx.tracer.spans


def test_injected_batch_failures_count_as_failed_ops(ctx):
    wl, ops = _reps(ctx, "mail_fetch",
                    write_options={"fail_every_nth_batch": "1", "batch_size": "50"})
    assert run.workload_stats(wl, ops)["workload.failed_op_ratio"] > 0


def test_model_catches_a_doctored_expected_id_set(ctx):
    import gen
    import models

    ins = gen.mail_inputs(ctx.fresh("doctor"), 7, 0, 1, 300, 300, 10, 2)
    model = models.MailModel()
    expected = model.expected_new(ins["snapshots"][0])
    sink = ctx.fresh("doctor-sink")
    from workloads import MailFetch

    MailFetch(TINY["mail_fetch"])._cycle(ctx, ins["snapshots"][0], sink)
    doctored = dict(expected)
    doctored.pop(next(iter(doctored)))
    assert models.MailModel().check_cycle(sink, doctored)
    assert models.MailModel().check_cycle(sink, expected) == []


def test_back_to_back_repetitions_do_identical_write_work(ctx):
    def work(ops):
        return [
            (o.layer["sources.batched_sink.rows_written"],
             round(o.layer["sources.batched_sink.bytes_per_row"]
                   * o.layer["sources.batched_sink.rows_written"]))
            for o in ops
        ]

    _, first = _reps(_traced(ctx), "mail_fetch")
    _, second = _reps(_traced(ctx), "mail_fetch")
    assert work(first) == work(second)
    assert sum(r for r, _ in work(first)) > 0
