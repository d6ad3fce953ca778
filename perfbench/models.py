"""Pure-Python correctness models, one per workload.

Each model is written from the documented behaviour of the layer it checks
and reads the program's outputs straight from disk (JSON lines, parquet
via pyarrow), never through Spark, so a wrong answer cannot be confirmed
by the code that produced it. A check returns a list of mismatch strings;
an empty list means the operation is correct.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import defaultdict

import pyarrow.parquet as pq

from gen import PASSING_TYPES, doc_shingles, jaccard

_LABELS = {
    "error": ["SPAM", "INBOX"],
    "signup": ["INBOX"],
    "purchase": ["SENT", "INBOX"],
    "click": ["TRASH"],
}


def _record(eid: int, ts, user: int, etype: str) -> dict:
    """The email record the fetch loop must commit for one message: the
    reference's first-match header extraction over the Gmail-shaped
    payload (Subject dropped for every 11th id, upper-cased name for every
    13th, which a case-insensitive match still finds)."""
    return {
        "id": f"m{eid}",
        "threadId": f"t{user}",
        "subject": None if eid % 11 == 0 else f"{etype} #{eid}",
        "sender": f"user{user}@example.com",
        "recipient": "etl@example.com",
        "timestamp": ts.strftime("%a, %d %b %Y %H:%M:%S +0000"),
        "combined_labels": ",".join(_LABELS.get(etype, ["DRAFT"])),
    }


def _content_hash(rows) -> str:
    h = hashlib.sha256()
    for line in sorted(json.dumps(r, sort_keys=True) for r in rows):
        h.update(line.encode())
    return h.hexdigest()


class MailModel:
    """Fetch-cycle model: label query, anti-join against what is already
    committed, per-id dedup. Expected new ids per cycle, and the sink's
    full expected content."""

    def __init__(self) -> None:
        self.committed: dict[str, dict] = {}

    def expected_new(self, snapshot_path: str) -> dict[str, dict]:
        t = pq.read_table(snapshot_path).to_pydict()
        fresh = {}
        for eid, ts, user, etype in zip(
            t["event_id"], t["ts"], t["user_id"], t["event_type"]
        ):
            rid = f"m{eid}"
            if etype in PASSING_TYPES and rid not in self.committed:
                fresh[rid] = _record(eid, ts, user, etype)
        return fresh

    def check_cycle(self, sink: str, expected: dict[str, dict]) -> list[str]:
        """Compare one committed append against the model, then advance."""
        errs = []
        with open(os.path.join(sink, "_MANIFEST.json")) as f:
            man = json.load(f)
        if man["batches_failed"]:
            errs.append(f"sink reported batches_failed={man['batches_failed']}")
        if man["rows_written"] != len(expected):
            errs.append(
                f"rows_written={man['rows_written']} expected {len(expected)}"
            )
        got: dict[str, dict] = {}
        for name in man["files"]:
            with open(os.path.join(sink, name)) as f:
                for line in f:
                    r = json.loads(line)
                    if r["id"] in got or r["id"] in self.committed:
                        errs.append(f"id {r['id']} committed twice")
                    got[r["id"]] = r
        if set(got) != set(expected):
            errs.append(
                f"committed ids differ: {len(set(got) - set(expected))} extra, "
                f"{len(set(expected) - set(got))} missing"
            )
        self.committed.update(expected)
        return errs

    def check_final(self, sink: str) -> list[str]:
        rows = []
        for name in sorted(os.listdir(sink)):
            if name.endswith(".jsonl"):
                with open(os.path.join(sink, name)) as f:
                    rows.extend(json.loads(line) for line in f)
        if _content_hash(rows) != _content_hash(self.committed.values()):
            return [f"final sink content hash differs ({len(rows)} rows)"]
        return []


class CdcModel:
    """Keyed-table model: a dict of key -> (v, s) under upserts/deletes."""

    def __init__(self) -> None:
        self.table: dict[int, tuple] = {}

    def apply(self, batch_path: str) -> None:
        t = pq.read_table(batch_path).to_pydict()
        for k, v, s, d in zip(t["k"], t["v"], t["s"], t["is_delete"]):
            if d:
                self.table.pop(k, None)
            else:
                self.table[k] = (v, s)

    def check_lookup(self, key: int, rows: list) -> list[str]:
        got = [(r["v"], r["s"]) for r in rows]
        want = [self.table[key]] if key in self.table else []
        return [] if got == want else [f"lookup k={key}: got {got} want {want}"]

    def check_state(self, rows: list) -> list[str]:
        got = {r["k"]: (r["v"], r["s"]) for r in rows}
        if len(got) != len(rows):
            return [f"as-of read holds duplicate keys ({len(rows)} rows)"]
        if got != self.table:
            return [f"as-of state differs: {len(got)} keys vs {len(self.table)}"]
        return []


def read_snapshot(path: str | None) -> dict[int, str]:
    if path is None:
        return {}
    t = pq.read_table(path).to_pydict()
    return dict(zip(t["doc_id"], t["text"]))


class DocModel:
    """Near-dup ingest model. Holds the sink as the program committed it;
    every batch verdict is re-derived: a doc whose text is already in the
    sink must be refused (exact), a refused non-exact doc must have a sink
    doc at exact shingle Jaccard >= threshold (near), nothing else may be
    refused."""

    def __init__(self, threshold: float) -> None:
        self.threshold = threshold
        self.docs: dict[int, str] = {}
        self.texts: set[str] = set()
        self.shingles: dict[int, set] = {}
        self.index: dict[str, set] = defaultdict(set)

    def _add(self, doc_id: int, text: str) -> None:
        sh = doc_shingles(text)
        self.docs[doc_id] = text
        self.texts.add(text)
        self.shingles[doc_id] = sh
        for s in sh:
            self.index[s].add(doc_id)

    def load(self, snapshot: dict[int, str]) -> None:
        for i, t in snapshot.items():
            self._add(i, t)

    def _has_near(self, text: str, hint: int | None) -> bool:
        sh = doc_shingles(text)
        if hint in self.shingles and jaccard(sh, self.shingles[hint]) >= self.threshold:
            return True
        counts: dict[int, int] = defaultdict(int)
        for s in sh:
            for d in self.index.get(s, ()):
                counts[d] += 1
        return any(
            c / (len(sh) + len(self.shingles[d]) - c) >= self.threshold
            for d, c in counts.items()
        )

    def check_batch(
        self, batch: dict[int, str], sources: dict, new_snapshot: dict[int, str]
    ) -> tuple[list[str], dict]:
        """Check one batch's verdicts, then advance to the new snapshot.
        Returns (mismatches, verdict counts)."""
        errs = []
        lost = [i for i in self.docs if new_snapshot.get(i) != self.docs[i]]
        if lost:
            errs.append(f"{len(lost)} previously ingested docs changed or vanished")
        survivors = {i: t for i, t in new_snapshot.items() if i not in self.docs}
        strays = [i for i in survivors if batch.get(i) != survivors[i]]
        if strays:
            errs.append(f"{len(strays)} ingested docs are not from this batch")
        counts = {"exact_dup": 0, "near_dup": 0, "ingest": 0, "near_hi_caught": 0}
        planted_exact = sum(1 for k, _ in sources.values() if k == "exact")
        for doc_id, text in batch.items():
            kind, src = sources[doc_id]
            if text in self.texts:
                counts["exact_dup"] += 1
                if doc_id in survivors:
                    errs.append(f"exact duplicate {doc_id} was ingested")
            elif doc_id in survivors:
                counts["ingest"] += 1
            else:
                counts["near_dup"] += 1
                counts["near_hi_caught"] += kind == "near_hi"
                if not self._has_near(text, src):
                    errs.append(f"doc {doc_id} refused without a near duplicate")
        if counts["exact_dup"] != planted_exact:
            errs.append(
                f"exact_dup count {counts['exact_dup']} != planted {planted_exact}"
            )
        for i, t in survivors.items():
            self._add(i, t)
        return errs, counts
