"""The three closed-loop workloads. Each drives the package only through
its public entry points, one client at a time: the next operation starts
after the previous one has committed.

A workload runs in repetitions. A repetition generates its own inputs from
(seed, rep), writes into fresh sink roots, and replays a fixed schedule of
operations from an empty (or freshly loaded) sink, so the history an
operation sees depends on its position in the schedule, never on how fast
earlier operations ran. A run replays a fixed number of whole
repetitions; the first operations of the first one are its warm-up.

Every operation returns an ``Op``. Untraced, only its wall time, row count
and correctness verdict are kept; traced (the context's tracer is enabled
when the operation starts), the workload also times the
layer-prefix plans of the same inputs before the operation (outside its
timed region) and records per-layer counts after it.
"""

from __future__ import annotations

import inspect
import json
import os
import time
from dataclasses import dataclass, field

import gen
import models
from tracing import tag_jobs

from pyspark.sql import Observation
from pyspark.sql import functions as F

from gmail_bigquery_etl_spark.functions.headers import label_predicate
from gmail_bigquery_etl_spark.operators.dedup import (
    banded_signatures,
    grams_stage,
    jaccard_pairs_from_grams,
)
from gmail_bigquery_etl_spark.operators.incremental import (
    estimate_plan_bytes,
    incremental_anti_join,
    incremental_near_dup,
    ingest_increment,
)
from gmail_bigquery_etl_spark.streaming.dedup_ingest import start_near_dup_ingest
from gmail_bigquery_etl_spark.streaming.merge_manifest import (
    apply_merge_batch_bucketed,
    compact_manifest,
    current_manifest,
    list_manifest_versions,
    read_manifest_as_of,
    read_manifest_point_lookup,
    vacuum_manifests,
)
from gmail_bigquery_etl_spark.streaming.merge_sink import current_snapshot_dir

FETCH_QUERY = "in:inbox OR in:sent OR in:trash -in:spam -in:allmail"
DEDUP_THRESHOLD = 0.5
# the sink-side LSH bucket cap start_near_dup_ingest runs with
DEDUP_MAX_BUCKET = inspect.signature(incremental_near_dup).parameters[
    "max_bucket"
].default


@dataclass
class Op:
    kind: str  # the workload's primary kind is what op_s_p50 reports
    seconds: float
    rows: int
    errors: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)
    tag: str = ""


class Ctx:
    """What a workload needs from the run: the session, tracer, core count
    and a scratch root that only this run writes under."""

    def __init__(self, spark, tracer, cores: int, tmp: str, seed: int,
                 label: str = "") -> None:
        self.spark = spark
        self.tracer = tracer
        self.cores = cores
        self.tmp = tmp
        self.seed = seed
        self.label = label  # prefix of this context's job-group tags
        self._n = 0

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def fresh(self, name: str) -> str:
        """A new, empty directory: no two calls in a run share one."""
        self._n += 1
        path = os.path.join(self.tmp, f"{self._n:05d}-{name}")
        os.makedirs(path)
        return path

    def tag(self, what: str) -> str:
        self._n += 1
        t = f"{self.label}{what}-{self._n}"
        tag_jobs(self.spark, t)
        return t


def _noop(df, obs: Observation | None = None) -> float:
    """Materialize a plan with the noop writer; seconds taken."""
    if obs is not None:
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) of data files under ``path``."""
    n = b = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(suffix) and not name.startswith((".", "_")):
                n += 1
                b += os.path.getsize(os.path.join(dirpath, name))
    return n, b


# --- mail_fetch ------------------------------------------------------------


class MailFetch:
    """The reference's /fetch loop: paginated scan with the label query
    pushed down, read back the ids already committed, anti-join + record
    build + per-id dedup, batched append. Snapshots replay a recent window,
    so the committed history grows every cycle."""

    name = "mail_fetch"
    primary = "fetch_cycle"

    def __init__(self, sizes: dict, write_options: dict | None = None) -> None:
        self.sizes = sizes
        self.write_options = {"batch_size": "1000", **(write_options or {})}

    def inputs(self, ctx: Ctx, rep: int) -> dict:
        s = self.sizes
        ins = gen.mail_inputs(
            ctx.fresh("mail-in"), ctx.seed, rep, s["cycles"], s["window"],
            s["step"], s["users"], ctx.cores,
        )
        self.props = ins["props"]
        return ins

    def _scan(self, ctx: Ctx, path: str):
        return (
            ctx.spark.read.format("paginated_api")
            .option("path", path)
            .option("q", FETCH_QUERY)
            .option("tokens", str(ctx.cores))
            .option("page_size", "500")
            .option("throttle_ms", "0")
            .load()
        )

    def _cycle(self, ctx: Ctx, snap: str, sink: str) -> None:
        tr = ctx.tracer
        with tr.span("sources.paginated.scan"):
            msgs = self._scan(ctx, snap)
        with tr.span("sources.batched_sink.read_ids"):
            existing = ctx.spark.read.schema("id string").json(sink)
        with tr.span("operators.incremental.ingest_increment"):
            out = ingest_increment(msgs, existing)
        with tr.span("sources.batched_sink.write"):
            w = out.write.format("batched_sink").option("path", sink).mode("append")
            for k, v in self.write_options.items():
                w = w.option(k, v)
            w.save()

    def run_rep(self, ctx: Ctx, rep: int):
        ins = self.inputs(ctx, rep)
        sink = ctx.fresh("mail-sink")
        model = models.MailModel()
        # the first snapshot fills the empty sink; it is set-up of the
        # repetition, so every measured cycle replays the same overlap
        first = ins["snapshots"][0]
        expected = model.expected_new(first)
        tag_jobs(ctx.spark, "bench")
        self._cycle(ctx, first, sink)
        errors = model.check_cycle(sink, expected)
        if errors:
            yield Op("fill", 0.0, 0, errors)
            return
        for c, snap in enumerate(ins["snapshots"][1:], start=1):
            expected = model.expected_new(snap)
            layer = self._probe(ctx, snap, sink) if ctx.traced else {}
            tag = ctx.tag("op")
            t0 = time.perf_counter()
            errors = []
            try:
                with ctx.tracer.span("mail_fetch.cycle", tag):
                    self._cycle(ctx, snap, sink)
            except Exception as exc:  # a failed op is counted, not fatal
                errors.append(f"cycle {c} raised {type(exc).__name__}: {exc}")
            seconds = time.perf_counter() - t0
            tag_jobs(ctx.spark, "bench")
            if not errors:
                errors = model.check_cycle(sink, expected)
            if ctx.traced and not errors:
                layer.update(self._after(sink, snap, seconds, layer))
            yield Op(self.primary, seconds, len(expected), errors, layer, tag)
            if errors:
                return
        errors = model.check_final(sink)
        if errors:
            yield Op("final_state", 0.0, 0, errors)

    def _probe(self, ctx: Ctx, snap: str, sink: str) -> dict:
        """Time each layer's prefix of the cycle's plan on the same inputs:
        scan, id read-back, anti-join, record build + dedup."""
        ctx.tag("probe")
        spark = ctx.spark
        o_scan, o_ids, o_anti, o_out = (Observation() for _ in range(4))
        msgs = self._scan(ctx, snap)
        existing = spark.read.schema("id string").json(sink)
        t_scan = _noop(msgs, o_scan)
        t_ids = _noop(existing, o_ids)
        anti = incremental_anti_join(msgs.filter(label_predicate("labelIds")), existing)
        t_anti = _noop(anti, o_anti)
        t_ing = _noop(ingest_increment(msgs, existing), o_out)
        emitted = o_scan.get["rows"]
        fresh = o_anti.get["rows"]
        tag_jobs(spark, "bench")
        return {
            "sources.paginated.scan_s": t_scan,
            "sources.paginated.rows_emitted": emitted,
            "sources.paginated.partitions": msgs.rdd.getNumPartitions(),
            "sources.batched_sink.id_scan_s": t_ids,
            "sources.batched_sink.id_scan_tasks": existing.rdd.getNumPartitions(),
            "operators.incremental.anti_join_s": t_anti - t_scan - t_ids,
            "operators.incremental.build_rows": o_ids.get["rows"],
            "operators.incremental.build_bytes_est": estimate_plan_bytes(
                existing.select("id")
            ),
            "operators.incremental.fresh_ratio": fresh / emitted if emitted else 0.0,
            "functions.headers.extract_dedup_s": t_ing - t_anti,
            "functions.headers.dups_dropped": fresh - o_out.get["rows"],
            "_t_ingest": t_ing,
        }

    def _after(self, sink, snap, seconds, layer) -> dict:
        """Counts the committed append left on disk: its manifest and files,
        and the snapshot the scan read."""
        import pyarrow.parquet as pq

        with open(os.path.join(sink, "_MANIFEST.json")) as f:
            man = json.load(f)
        written = sum(os.path.getsize(os.path.join(sink, n)) for n in man["files"])
        scanned = pq.ParquetFile(snap).metadata.num_rows
        return {
            "sources.paginated.rows_scanned": scanned,
            "sources.paginated.keep_ratio": (
                layer["sources.paginated.rows_emitted"] / scanned
            ),
            "sources.batched_sink.write_s": seconds - layer.pop("_t_ingest"),
            "sources.batched_sink.rows_written": man["rows_written"],
            "sources.batched_sink.batches_failed": man["batches_failed"],
            "sources.batched_sink.files_written": len(man["files"]),
            "sources.batched_sink.files_live": _dir_bytes(sink, ".jsonl")[0],
            "sources.batched_sink.bytes_per_row": (
                written / man["rows_written"] if man["rows_written"] else 0.0
            ),
        }


# --- cdc_merge -------------------------------------------------------------


class CdcMerge:
    """The manifest sink as a mutable keyed table: Zipf-skewed CDC batches
    applied with the bucketed merge, each followed by point lookups (hits
    and misses), with compaction + vacuum every few batches."""

    name = "cdc_merge"
    primary = "merge_batch"
    KEYS = ["k"]

    def __init__(self, sizes: dict) -> None:
        self.sizes = sizes

    def inputs(self, ctx: Ctx, rep: int) -> dict:
        s = self.sizes
        ins = gen.cdc_inputs(
            ctx.fresh("cdc-in"), ctx.seed, rep, s["initial_keys"], s["batches"],
            s["batch_rows"], s["mix"], s["zipf_a"], s["lookups"], s["hit_share"],
        )
        self.props = ins["props"]
        return ins

    def _merge(self, ctx: Ctx, path: str, version: int, root: str) -> None:
        with ctx.tracer.span("streaming.merge_manifest.apply_merge_batch_bucketed"):
            apply_merge_batch_bucketed(
                ctx.spark, ctx.spark.read.parquet(path), version, root,
                self.KEYS, n_buckets=self.sizes["buckets"],
            )

    def _lookup(self, ctx: Ctx, root: str, key: int) -> list:
        with ctx.tracer.span("streaming.merge_manifest.read_manifest_point_lookup"):
            return [
                r.asDict()
                for r in read_manifest_point_lookup(ctx.spark, root, {"k": key}).collect()
            ]

    def run_rep(self, ctx: Ctx, rep: int):
        import pyarrow.parquet as pq

        ins = self.inputs(ctx, rep)
        root = ctx.fresh("cdc-sink")
        model = models.CdcModel()
        # the initial load is set-up of the repetition, not a measured op
        tag_jobs(ctx.spark, "bench")
        self._merge(ctx, ins["init"], 0, root)
        model.apply(ins["init"])
        version = 0
        every = self.sizes["compact_every"]
        for b, path in enumerate(ins["batches"]):
            before = current_manifest(root)
            version += 1
            tag = ctx.tag("op")
            errors = []
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("cdc_merge.batch", tag):
                    self._merge(ctx, path, version, root)
            except Exception as exc:
                errors.append(f"batch {b} raised {type(exc).__name__}: {exc}")
            seconds = time.perf_counter() - t0
            tag_jobs(ctx.spark, "bench")
            model.apply(path)
            n_rows = pq.ParquetFile(path).metadata.num_rows
            layer = {}
            if ctx.traced and not errors:
                layer = self._merge_layer(root, before, version, path, seconds)
            yield Op(self.primary, seconds, n_rows, errors, layer, tag)
            for key in ins["lookups"][b]:
                tag = ctx.tag("lookup")
                errors = []
                t0 = time.perf_counter()
                try:
                    with ctx.tracer.span("cdc_merge.lookup", tag):
                        rows = self._lookup(ctx, root, key)
                    seconds = time.perf_counter() - t0
                    errors = model.check_lookup(key, rows)
                except Exception as exc:
                    seconds = time.perf_counter() - t0
                    errors.append(f"lookup {key} raised {type(exc).__name__}: {exc}")
                tag_jobs(ctx.spark, "bench")
                yield Op("lookup", seconds, 1, errors, {}, tag)
            if (b + 1) % every == 0:
                yield self._maintain(ctx, root)
                version = current_manifest(root)["batch_id"]
        tag_jobs(ctx.spark, "bench")
        errors = model.check_state(
            [r.asDict() for r in read_manifest_as_of(ctx.spark, root).collect()]
        )
        if errors:
            yield Op("final_state", 0.0, 0, errors)

    def _maintain(self, ctx: Ctx, root: str) -> Op:
        """Background compaction + vacuum, timed as its own op kind."""
        tag = ctx.tag("maint")
        errors, layer = [], {}
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("streaming.merge_manifest.compact_manifest", tag):
                new_id = compact_manifest(ctx.spark, root)
            t1 = time.perf_counter()
            with ctx.tracer.span("streaming.merge_manifest.vacuum_manifests", tag):
                vacuum_manifests(root)
            t2 = time.perf_counter()
            if ctx.traced:
                layer = {
                    "streaming.merge_manifest.compact_s": t1 - t0,
                    "streaming.merge_manifest.vacuum_s": t2 - t1,
                    "streaming.merge_manifest.compact_bytes_rewritten": _dir_bytes(
                        os.path.join(root, f"gen_{new_id}"), ".parquet"
                    )[1],
                }
        except Exception as exc:
            errors.append(f"maintenance raised {type(exc).__name__}: {exc}")
        tag_jobs(ctx.spark, "bench")
        return Op("maintenance", time.perf_counter() - t0, 0, errors, layer, tag)

    def _merge_layer(self, root, before, version, path, seconds) -> dict:
        after = current_manifest(root)
        old = before["buckets"] if before else {}
        changed = {b for b in set(old) | set(after["buckets"])
                   if old.get(b) != after["buckets"].get(b)}
        live_dirs = set(after["buckets"].values())
        files = sum(_dir_bytes(os.path.join(root, d), ".parquet")[0] for d in live_dirs)
        written = _dir_bytes(os.path.join(root, f"gen_{version}"), ".parquet")[1]
        return {
            "streaming.merge_manifest.merge_s": seconds,
            "streaming.merge_manifest.buckets_touched_ratio": len(changed)
            / after["n_buckets"],
            "streaming.merge_manifest.write_amp": written / os.path.getsize(path),
            "streaming.merge_manifest.files_live": files,
            "streaming.merge_manifest.versions_live": len(list_manifest_versions(root)),
        }


# --- doc_dedup -------------------------------------------------------------


class DocDedup:
    """Near-dup-aware document ingest: one seeded batch per streaming
    trigger into ``start_near_dup_ingest``. The seed corpus is the first,
    untimed trigger; every later batch is classified against the whole,
    growing sink."""

    name = "doc_dedup"
    primary = "dedup_batch"

    def __init__(self, sizes: dict) -> None:
        self.sizes = sizes

    def inputs(self, ctx: Ctx, rep: int) -> dict:
        s = self.sizes
        ins = gen.doc_inputs(
            ctx.fresh("doc-in"), ctx.seed, rep, s["corpus_docs"], s["boiler_docs"],
            s["batches"], s["batch_docs"], s["shares"], s["doc_words"], s["vocab"],
        )
        self.props = ins["props"]
        return ins

    def _start(self, ctx: Ctx):
        src = ctx.fresh("doc-src")
        sink = ctx.fresh("doc-sink")
        stream = (
            ctx.spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        with ctx.tracer.span("streaming.dedup_ingest.start_near_dup_ingest"):
            q = start_near_dup_ingest(
                stream, sink, ctx.fresh("doc-ckpt"), threshold=DEDUP_THRESHOLD,
                available_now=False,
            )
        return q, src, sink

    @staticmethod
    def _feed(q, src: str, path: str, n: int) -> dict:
        """Publish one batch file and wait until its trigger commits."""
        os.link(path, os.path.join(src, f"b{n:05d}.parquet"))
        q.processAllAvailable()
        return q.lastProgress

    def run_rep(self, ctx: Ctx, rep: int):
        ins = self.inputs(ctx, rep)
        tag_jobs(ctx.spark, "bench")
        q, src, sink = self._start(ctx)
        try:
            self._feed(q, src, ins["corpus"], 0)
            model = models.DocModel(DEDUP_THRESHOLD)
            model.load(models.read_snapshot(current_snapshot_dir(sink)))
            for b, path in enumerate(ins["batches"], start=1):
                batch = models.read_snapshot(path)
                layer = self._probe(ctx, path, sink) if ctx.traced else {}
                errors = []
                try:
                    with ctx.tracer.span("doc_dedup.batch", f"batch-{b}"):
                        prog = self._feed(q, src, path, b)
                    if q.exception() is not None:
                        raise RuntimeError(str(q.exception()))
                    seconds = prog["durationMs"]["triggerExecution"] / 1000.0
                    snap = models.read_snapshot(current_snapshot_dir(sink))
                    errors, counts = model.check_batch(
                        batch, ins["sources"][b - 1], snap
                    )
                except Exception as exc:
                    errors.append(f"batch {b} raised {type(exc).__name__}: {exc}")
                    seconds, counts, prog = 0.0, {}, None
                if ctx.traced and not errors:
                    planted_hi = sum(
                        1 for k, _ in ins["sources"][b - 1].values() if k == "near_hi"
                    )
                    layer["operators.dedup.recall"] = (
                        counts["near_hi_caught"] / planted_hi if planted_hi else 1.0
                    )
                    layer["streaming.dedup_ingest.snapshot_write_s"] = (
                        prog["durationMs"]["addBatch"] / 1000.0 - layer.pop("_t_classify")
                    )
                    layer["streaming.dedup_ingest.snapshot_rows"] = len(snap)
                yield Op(self.primary, seconds, len(batch), errors, layer,
                         f"batch-{q.id}-{prog['batchId']}" if prog else "")
        finally:
            q.stop()

    def _probe(self, ctx: Ctx, path: str, sink: str) -> dict:
        """Time the classifier's stages on the batch and the sink exactly as
        the next trigger will see them: exact-hash join, shingling (batch
        and sink side), LSH band join, Jaccard verify, full classify."""
        ctx.tag("probe")
        spark = ctx.spark
        batch = spark.read.parquet(path).select("doc_id", "text")
        base = spark.read.parquet(current_snapshot_dir(sink))
        eh = base.select(F.md5("text").alias("_h")).distinct()
        marked = batch.withColumn("_h", F.md5("text")).join(
            F.broadcast(eh.withColumn("_is_exact", F.lit(True))), "_h", "left"
        )
        t_exact = _noop(marked)
        rest = marked.filter(F.col("_is_exact").isNull()).drop("_is_exact", "_h")
        t0 = time.perf_counter()
        g_n = grams_stage(rest).localCheckpoint()
        t1 = time.perf_counter()
        g_e = grams_stage(base).localCheckpoint()
        t2 = time.perf_counter()
        b_n = banded_signatures(g_n)
        b_e = banded_signatures(g_e)
        widths = b_e.groupBy("band", "band_key").count()
        capped = widths.filter(F.col("count") > DEDUP_MAX_BUCKET).count()
        kept = b_e.join(
            widths.filter(F.col("count") <= DEDUP_MAX_BUCKET), ["band", "band_key"]
        )
        t3 = time.perf_counter()
        cand = (
            b_n.select(F.col("_id").alias("id_a"), "band", "band_key")
            .join(kept.select(F.col("_id").alias("id_b"), "band", "band_key"),
                  ["band", "band_key"])
            .select("id_a", "id_b")
            .distinct()
            .localCheckpoint()
        )
        t4 = time.perf_counter()
        n_cand = cand.count()
        t5 = time.perf_counter()
        verified = (
            jaccard_pairs_from_grams(g_n.unionAll(g_e), cand)
            .filter(F.col("jaccard") >= DEDUP_THRESHOLD)
            .count()
        )
        t6 = time.perf_counter()
        t_classify = _noop(
            incremental_near_dup(batch, base, threshold=DEDUP_THRESHOLD)
            .filter("outcome = 'ingest'")
        )
        tag_jobs(spark, "bench")
        return {
            "operators.dedup.exact_s": t_exact,
            "operators.dedup.grams_batch_s": t1 - t0,
            "operators.dedup.grams_sink_s": t2 - t1,
            "operators.dedup.band_join_s": t4 - t3,
            "operators.dedup.candidate_pairs": n_cand,
            "operators.dedup.capped_buckets": capped,
            "operators.dedup.verify_s": t6 - t5,
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.candidate_precision": verified / n_cand if n_cand else 0.0,
            "_t_classify": t_classify,
        }


WORKLOADS = {"mail_fetch": MailFetch, "cdc_merge": CdcMerge, "doc_dedup": DocDedup}
