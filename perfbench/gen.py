"""Seeded input generator for the benchmark workloads.

Uses numpy and pyarrow only -- no Spark and no package code -- so a change
to the program under test cannot move the inputs. Every function takes the
run seed plus a repetition number and writes into a directory the caller
owns; the same (seed, rep) always yields byte-identical files.

Each generator returns a dict: the paths the workload consumes, the
per-step facts its correctness model needs, and ``props``, the measured
input properties the workload's behaviour depends on.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# label sets the paginated source's Gmail backend renders per event type;
# the generator only needs to know which types pass the fetch query. The
# mix is the one the repository's events fixture has: uniform over types.
EVENT_TYPES = ["signup", "purchase", "click", "error", "view"]
EVENT_MIX = [0.2, 0.2, 0.2, 0.2, 0.2]
# in:inbox OR in:sent OR in:trash -in:spam: signup, purchase, click pass;
# error (SPAM+INBOX) and view (DRAFT) do not
PASSING_TYPES = {"signup", "purchase", "click"}


def _rng(seed: int, rep: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, rep, salt])


def _write(table: pa.Table, path: str) -> str:
    """Write through a temp name so a reader never sees a partial file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)
    return path


# --- mail_fetch ------------------------------------------------------------


def mail_inputs(
    root: str,
    seed: int,
    rep: int,
    cycles: int,
    window: int,
    step: int,
    users: int,
    tokens: int,
) -> dict:
    """One mailbox snapshot per fetch cycle. Snapshot ``c`` holds events
    ``[c*step, c*step + window)``: a recent window that replays
    ``window - step`` events every earlier cycle already saw."""
    rng = _rng(seed, rep, 1)
    total = window + (cycles - 1) * step
    ids = np.arange(total, dtype=np.int64) + rep * 10_000_000
    ts = (1_700_000_000_000_000 + np.arange(total, dtype=np.int64) * 7_000_000).astype(
        "datetime64[us]"
    )
    user = rng.integers(0, users, total).astype(np.int64)
    etype = np.array(EVENT_TYPES)[rng.choice(len(EVENT_TYPES), total, p=EVENT_MIX)]
    snaps = []
    for c in range(cycles):
        lo, hi = c * step, c * step + window
        t = pa.table(
            {
                "event_id": ids[lo:hi],
                "ts": pa.array(ts[lo:hi], pa.timestamp("us")),
                "user_id": user[lo:hi],
                "event_type": etype[lo:hi],
            }
        )
        snaps.append(_write(t, os.path.join(root, f"snap_{c:03d}.parquet")))
    passing = np.isin(etype, list(PASSING_TYPES))
    return {
        "snapshots": snaps,
        "props": {
            "events_total": int(total),
            "snapshot_events": int(window),
            "replay_overlap_share": (window - step) / window,
            "q_pass_share": float(passing.mean()),
            "mailbox_events_per_token": window / tokens,
            "users": users,
        },
    }


# --- cdc_merge -------------------------------------------------------------


def cdc_inputs(
    root: str,
    seed: int,
    rep: int,
    initial_keys: int,
    batches: int,
    batch_rows: int,
    mix: tuple[float, float, float],
    zipf_a: float,
    lookups_per_batch: int,
    lookup_hit_share: float,
) -> dict:
    """An initial table, then ``batches`` key-unique CDC batches of
    upserts / inserts / deletes (``mix``) whose existing-key picks are
    Zipf-skewed over key rank, each followed by point-lookup probes.

    The generator tracks the live key set itself (plain numpy, no program
    code) only to aim lookups at hits and misses in the stated share."""
    rng = _rng(seed, rep, 2)
    payload = np.array([f"p{i:05d}" * 4 for i in range(1000)])

    def rows(keys, deletes):
        n = len(keys)
        return pa.table(
            {
                "k": keys.astype(np.int64),
                "v": rng.integers(0, 1 << 40, n).astype(np.int64),
                "s": payload[rng.integers(0, len(payload), n)],
                "is_delete": deletes,
            }
        )

    live = np.arange(initial_keys, dtype=np.int64)
    next_key = initial_keys
    init = _write(
        rows(live, np.zeros(initial_keys, bool)), os.path.join(root, "init.parquet")
    )
    out_batches, out_lookups = [], []
    n_up, n_ins, n_del, n_rows = 0, 0, 0, 0
    hits = 0
    for b in range(batches):
        want_up = int(batch_rows * mix[0])
        want_del = int(batch_rows * mix[2])
        want_ins = batch_rows - want_up - want_del
        # distinct live keys drawn with Zipf weights over key rank, so hot
        # keys recur batch after batch while every batch has the same size
        weights = 1.0 / np.arange(1, len(live) + 1) ** zipf_a
        picked = live[
            rng.choice(len(live), want_up + want_del, replace=False,
                       p=weights / weights.sum())
        ]
        dels, ups = picked[:want_del], picked[want_del:]
        ins = np.arange(next_key, next_key + want_ins, dtype=np.int64)
        next_key += want_ins
        keys = np.concatenate([ups, ins, dels])
        flags = np.concatenate(
            [np.zeros(len(ups) + len(ins), bool), np.ones(len(dels), bool)]
        )
        out_batches.append(
            _write(rows(keys, flags), os.path.join(root, f"batch_{b:03d}.parquet"))
        )
        n_up, n_ins, n_del = n_up + len(ups), n_ins + len(ins), n_del + len(dels)
        n_rows += len(keys)
        live = np.setdiff1d(np.concatenate([live, ins]), dels)
        n_hit = int(round(lookups_per_batch * lookup_hit_share))
        hit_keys = live[rng.integers(0, len(live), n_hit)]
        # misses: deleted keys when there are any, else keys never issued
        miss_pool = dels if len(dels) else np.arange(next_key, next_key + 1000)
        miss_keys = miss_pool[rng.integers(0, len(miss_pool), lookups_per_batch - n_hit)]
        probes = np.concatenate([hit_keys, miss_keys])
        rng.shuffle(probes)
        out_lookups.append([int(k) for k in probes])
        hits += n_hit
    return {
        "init": init,
        "batches": out_batches,
        "lookups": out_lookups,
        "props": {
            "initial_keys": initial_keys,
            "batch_rows_mean": n_rows / batches,
            "upsert_share": n_up / n_rows,
            "insert_share": n_ins / n_rows,
            "delete_share": n_del / n_rows,
            "zipf_a": zipf_a,
            "lookup_hit_share": hits / (batches * lookups_per_batch),
        },
    }


# --- doc_dedup -------------------------------------------------------------


def doc_shingles(text: str, n: int = 3) -> set[str]:
    """Word n-gram set, the same definition the dedup verifier applies:
    lowercased whitespace tokens; texts shorter than n tokens form one
    shingle of the whole text."""
    toks = text.lower().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def doc_inputs(
    root: str,
    seed: int,
    rep: int,
    corpus_docs: int,
    boiler_corpus_docs: int,
    batches: int,
    batch_docs: int,
    shares: dict,
    doc_words: int,
    vocab: int,
) -> dict:
    """A seed corpus (ingested as the stream's first, untimed batch) and
    ``batches`` incoming batches that carry, in the stated ``shares``:
    exact copies of plain corpus docs, near copies above the 0.5 Jaccard
    threshold, near copies below it, and boilerplate docs that share one
    long template. The corpus already holds ``boiler_corpus_docs``
    boilerplate docs, more than the sink-side LSH bucket cap, so their
    band buckets are oversized from the first timed batch on."""
    rng = _rng(seed, rep, 3)
    words = np.array([f"w{i}" for i in range(vocab)])
    template = list(words[rng.integers(0, vocab, doc_words)])
    next_id = rep * 10_000_000

    def plain():
        return " ".join(words[rng.integers(0, vocab, doc_words)])

    def boiler(doc_id):
        # the template plus one token of the doc's own: far above the
        # threshold against every other boilerplate doc, never an exact copy
        return " ".join(template + [f"u{doc_id}"])

    def mutate(text: str, frac: float) -> str:
        toks = text.split()
        pos = rng.choice(len(toks), max(1, int(len(toks) * frac)), replace=False)
        for p in pos:
            # a replacement equal to the old word would leave an exact copy
            w = toks[p]
            while w == toks[p]:
                w = words[rng.integers(0, vocab)]
            toks[p] = w
        return " ".join(toks)

    def table(ids, texts):
        return pa.table({"doc_id": np.array(ids, np.int64), "text": texts})

    ids, texts = [], []
    for i in range(corpus_docs):
        ids.append(next_id)
        texts.append(boiler(next_id) if i < boiler_corpus_docs else plain())
        next_id += 1
    plain_pool = [(i, t) for i, t in zip(ids, texts)][boiler_corpus_docs:]
    corpus = _write(table(ids, texts), os.path.join(root, "corpus.parquet"))
    planted = {"exact": 0, "near_hi": 0, "near_lo": 0, "boiler": 0}
    out, sources = [], []
    for b in range(batches):
        ids, texts, src = [], [], {}
        n_exact = int(batch_docs * shares["exact"])
        n_hi = int(batch_docs * shares["near_hi"])
        n_lo = int(batch_docs * shares["near_lo"])
        n_boil = int(batch_docs * shares["boiler"])
        n_plain = batch_docs - n_exact - n_hi - n_lo - n_boil
        picks = rng.choice(len(plain_pool), n_exact + n_hi + n_lo, replace=False)
        for j, p in enumerate(picks):
            sid, stext = plain_pool[p]
            if j < n_exact:
                kind, text = "exact", stext
            elif j < n_exact + n_hi:
                kind, text = "near_hi", mutate(stext, 0.05)
            else:
                kind, text = "near_lo", mutate(stext, 0.45)
            src[next_id] = (kind, sid)
            ids.append(next_id)
            texts.append(text)
            next_id += 1
            planted[kind] += 1
        new_plain = []
        for _ in range(n_plain):
            t = plain()
            src[next_id] = ("plain", None)
            new_plain.append((next_id, t))
            ids.append(next_id)
            texts.append(t)
            next_id += 1
        for _ in range(n_boil):
            src[next_id] = ("boiler", None)
            ids.append(next_id)
            texts.append(boiler(next_id))
            next_id += 1
        planted["boiler"] += n_boil
        order = rng.permutation(len(ids))
        ids = [ids[i] for i in order]
        texts = [texts[i] for i in order]
        out.append(_write(table(ids, texts), os.path.join(root, f"batch_{b:03d}.parquet")))
        sources.append(src)
        # plain docs of this batch become copy sources for later batches
        plain_pool.extend(new_plain)
    total = batches * batch_docs
    return {
        "corpus": corpus,
        "batches": out,
        "sources": sources,
        "props": {
            "corpus_docs": corpus_docs,
            "batch_docs": batch_docs,
            "doc_words": doc_words,
            "exact_dup_share": planted["exact"] / total,
            "near_dup_above_share": planted["near_hi"] / total,
            "near_dup_below_share": planted["near_lo"] / total,
            "boilerplate_share": planted["boiler"] / total,
            "mega_bucket_corpus_share": boiler_corpus_docs / corpus_docs,
        },
    }
