"""Seeded inputs for the pipeline benchmark.

Every document and event is a pure function of ``(seed, index)``, so
the same seed always yields the same corpus, and a document with a
given index is the same document in every workload.

The documents reproduce the shape of the engine's reference corpus,
``documents.parquet`` at scale factor 0.1 (5,000 documents), as
measured with the engine's own producer functions (figures in
README.md): lowercase ASCII text of 10 to 99 words drawn uniformly
from the corpus's 30-word vocabulary, with no punctuation, digits or
capitals, so the NER producer finds no entities, every document is one
sentence, and language-ID says ``en`` when "the" occurs and ``und``
otherwise. 5% of documents are near-duplicates: the text of one of the
5,000 documents before it plus the word "dup". As in the reference
corpus, exact duplicates (same bytes, different ``doc_id``) arise only
where two near-duplicates copy the same document, about 0.2% of
documents. Each seed draws fresh word sequences, so apart from those
duplicates no two documents share text.

The ledger is the benchmark's own record of what it generated: one
entry per item with its id and the SHA-1 of its bytes. Item counts and
the output checks are taken from the ledger, never from Spark's
progress counters.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import random

# Measured on the reference corpus (README.md, "Input corpus").
VOCABULARY = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
MIN_WORDS, MAX_WORDS = 10, 99
NEAR_DUPLICATE_SHARE = 0.05  # an earlier document's text + " dup"
NEAR_DUPLICATE_WINDOW = 5000  # the reference corpus's size
# consolidate_rw: share of events that are extra metadata upserts on a
# small hot key set, so uneven keys show up in the merge.
HOT_EVENT_SHARE = 0.10
HOT_DOCS = 32
EVENTS_PER_DOC = 6  # CREATE, 4 x UPSERT_METADATA, UPSERT_DOCUMENT_REPRESENTATION
EVENT_EPOCH = _dt.datetime(2024, 1, 1)


def _rng(seed: int, *key) -> random.Random:
    h = hashlib.sha1(repr((seed,) + key).encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def _words(seed: int, i: int) -> str:
    r = _rng(seed, "doc", i)
    return " ".join(r.choice(VOCABULARY) for _ in range(r.randint(MIN_WORDS, MAX_WORDS)))


def _text(seed: int, i: int) -> str:
    r = _rng(seed, "dup", i)
    if i > 0 and r.random() < NEAR_DUPLICATE_SHARE:
        return _words(seed, r.randrange(max(0, i - NEAR_DUPLICATE_WINDOW), i)) + " dup"
    return _words(seed, i)


def document(seed: int, i: int) -> dict:
    """Document ``i`` of the corpus for ``seed``: doc_id, name and the
    binary ``content`` the producers parse."""
    return {
        "doc_id": seed * 10_000_000 + i,
        "name": f"s{seed}/doc-{i:07d}.txt",
        "content": _text(seed, i).encode("utf-8"),
    }


def documents(seed: int, start: int, count: int) -> list[dict]:
    return [document(seed, i) for i in range(start, start + count)]


def sha1(b: bytes) -> str:
    return hashlib.sha1(b).hexdigest()


def doc_events(seed: int, i: int) -> list[dict]:
    """The six DataRecordEvents of document ``i``."""
    d = document(seed, i)
    text = d["content"].decode("utf-8")
    ts = EVENT_EPOCH + _dt.timedelta(seconds=i)
    base = {"doc_id": d["doc_id"], "event_ts": ts, "name": None,
            "representation": None, "metadata": None}
    n_tokens = len(text.split())
    metas = (
        ("sha1", {"sha1": sha1(d["content"])}),
        ("tokens", {"n_tokens": str(n_tokens)}),
        ("source", {"source": f"src{i % 7}"}),
        ("size", {"n_bytes": str(len(d["content"]))}),
    )
    out = [dict(base, command="CREATE", name=d["name"],
                representation={"path": d["name"], "created_by": "ingest"})]
    out += [
        dict(base, command="UPSERT_METADATA",
             event_ts=ts + _dt.timedelta(milliseconds=k + 1),
             metadata={"values": v, "created_by": by})
        for k, (by, v) in enumerate(metas)
    ]
    out.append(dict(base, command="UPSERT_DOCUMENT_REPRESENTATION",
                    event_ts=ts + _dt.timedelta(milliseconds=9),
                    representation={"path": d["name"] + ".html", "created_by": "html"}))
    return out


def hot_event(seed: int, n_docs: int, k: int) -> dict:
    """The ``k``-th hot-key upsert: a new metadata revision on one of
    the first ``HOT_DOCS`` documents."""
    r = _rng(seed, "hot", k)
    i = r.randrange(min(HOT_DOCS, n_docs))
    return {
        "doc_id": document(seed, i)["doc_id"],
        "command": "UPSERT_METADATA",
        "event_ts": EVENT_EPOCH + _dt.timedelta(seconds=i, milliseconds=100 + k),
        "name": None,
        "representation": None,
        "metadata": {"values": {"rev": str(k)}, "created_by": "editor"},
    }


def event_stream(seed: int, n_docs: int, spread: int) -> list[dict]:
    """All events of documents ``0..n_docs-1`` plus the hot-key upserts,
    in emission order. A document's events are scattered over a window
    of ``spread`` emission slots, so they land in different micro-batches
    and later commits merge keys already in the store."""
    keyed = []
    for i in range(n_docs):
        r = _rng(seed, "spread", i)
        for j, ev in enumerate(doc_events(seed, i)):
            keyed.append((i * EVENTS_PER_DOC + r.randrange(spread), i, j, ev))
    n_hot = int(len(keyed) * HOT_EVENT_SHARE / (1 - HOT_EVENT_SHARE))
    for k in range(n_hot):
        pos = _rng(seed, "hotpos", k).randrange(len(keyed))
        keyed.append((pos, -1, k, hot_event(seed, n_docs, k)))
    keyed.sort(key=lambda t: t[:3])
    return [t[3] for t in keyed]


def event_digest(ev: dict) -> str:
    """Stable identity of one event for the ledger."""
    meta = ev["metadata"]
    rep = ev["representation"]
    return sha1(repr((
        ev["doc_id"], ev["command"], ev["event_ts"].isoformat(), ev["name"],
        None if rep is None else sorted(rep.items()),
        None if meta is None else (sorted(meta["values"].items()), meta["created_by"]),
    )).encode())
