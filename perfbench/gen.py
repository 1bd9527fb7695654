"""Seeded generator of interleaved-document snapshots with planted violations.

Every table is written as parquet (``doc_id: string``, ``spans:
array<struct<kind, text, media_ref, offset:int>>``); the engine sees only
these files. The truth that the benchmark checks the engine against is
derived here, from the rows as generated, in plain Python: it never calls
the engine or depends on its hashing.

Violations are planted on disjoint documents, so each violating doc breaks
exactly one rule:

* ``ucc``  -- a doc_id repeated with the same spans (exact duplicate);
* ``fd``   -- a doc_id repeated with other spans (breaks UCC as well);
* ``span`` -- one span-integrity rule broken: unknown kind, a text span
  without text, a media span without media_ref, or offsets out of order;
* ``ind``  -- a media span whose media_ref is absent from the media table.
"""

from __future__ import annotations

import json
import os
from collections import Counter, defaultdict
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MEDIA_KINDS = ("image", "audio", "video")
#: Rows of the media table (the IND right side).
MEDIA_REFS = 4096
SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])
_WORDS = (
    "the a of model image caption scene video frame audio clip token text "
    "layout page figure table alt source crawl web photo chart diagram map "
    "street river city night day person dog cat tree car music voice speech"
).split()


@dataclass
class Rows:
    """Generated rows in columnar form plus a per-row content id.

    Two rows share a content id exactly when their span sequences are equal
    on (kind, text, media_ref, order), the engine's row-equality invariant.
    ``reasons`` maps row index -> the span-integrity rule planted in it."""

    doc_ids: list[str]
    spans: list[list[dict]]
    content: list[int]
    reasons: dict[int, str] = field(default_factory=dict)

    def __len__(self) -> int:
        return len(self.doc_ids)

    def take(self, idx) -> "Rows":
        idx = list(idx)
        pos = {j: i for i, j in enumerate(idx)}
        return Rows(
            [self.doc_ids[j] for j in idx],
            [self.spans[j] for j in idx],
            [self.content[j] for j in idx],
            {pos[j]: r for j, r in self.reasons.items() if j in pos},
        )

    def extend(self, other: "Rows") -> None:
        base = len(self)
        self.doc_ids += other.doc_ids
        self.spans += other.spans
        self.content += other.content
        self.reasons.update({base + j: r for j, r in other.reasons.items()})

    def table(self) -> pa.Table:
        return pa.table(
            {"doc_id": self.doc_ids, "spans": self.spans}, schema=SCHEMA
        )


class Generator:
    """One seeded stream of documents; ids and content ids never repeat
    unless a duplicate is planted on purpose."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.seed = seed
        self.media = [f"m{seed}-{i}" for i in range(MEDIA_REFS)]
        words = np.array(_WORDS, dtype=object)
        self.sentences = [
            " ".join(self.rng.choice(words, size=int(k)))
            for k in self.rng.integers(3, 16, size=2048)
        ]
        self._next_content = 0

    def docs(
        self,
        n: int,
        prefix: str,
        n_spans: np.ndarray,
        media_p: float,
        media_kind_p=(1 / 3, 1 / 3, 1 / 3),
        hot_ref_p: float = 0.0,
    ) -> Rows:
        """``n`` clean documents; ``n_spans[i]`` spans in doc i, each a media
        span with probability ``media_p``; with ``hot_ref_p`` that share of
        media spans points at one hot media_ref."""
        rng = self.rng
        total = int(n_spans.sum())
        is_media = rng.random(total) < media_p
        kinds = rng.choice(len(MEDIA_KINDS), size=total, p=media_kind_p)
        text_ix = rng.integers(0, len(self.sentences), size=total)
        ref_ix = rng.integers(0, len(self.media), size=total)
        ref_ix[rng.random(total) < hot_ref_p] = 0
        steps = rng.integers(1, 400, size=total)
        spans: list[list[dict]] = []
        pos = 0
        for k in n_spans.tolist():
            doc = []
            off = 0
            for j in range(pos, pos + k):
                off += int(steps[j])
                if is_media[j]:
                    doc.append(
                        {
                            "kind": MEDIA_KINDS[kinds[j]],
                            "text": None,
                            "media_ref": self.media[ref_ix[j]],
                            "offset": off,
                        }
                    )
                else:
                    doc.append(
                        {
                            "kind": "text",
                            "text": self.sentences[text_ix[j]],
                            "media_ref": None,
                            "offset": off,
                        }
                    )
            spans.append(doc)
            pos += k
        start = self._next_content
        self._next_content += n
        return Rows(
            [f"{prefix}{i}" for i in range(n)],
            spans,
            list(range(start, start + n)),
        )

    def plant(self, rows: Rows, per_kind: int) -> None:
        """Plant ``per_kind`` violations of each kind on disjoint docs of
        ``rows`` (in place; duplicates are appended)."""
        rng = self.rng
        media_docs = [
            i for i, s in enumerate(rows.spans) if any(x["media_ref"] for x in s)
        ]
        text_docs = [
            i
            for i, s in enumerate(rows.spans)
            if any(x["kind"] == "text" for x in s) and len(s) >= 2
        ]
        used: set[int] = set()

        def pick(pool: list[int], k: int) -> list[int]:
            free = [i for i in pool if i not in used]
            got = [free[j] for j in rng.choice(len(free), size=k, replace=False)]
            used.update(got)
            return got

        def first(i: int, pred) -> dict:
            return next(x for x in rows.spans[i] if pred(x))

        def edit(i: int) -> list[dict]:
            # planted rows get their own span lists (and content ids) so a
            # mutation never leaks into a row that shares the original
            rows.spans[i] = [dict(x) for x in rows.spans[i]]
            rows.content[i] = self._fresh()
            return rows.spans[i]

        for i in pick(media_docs, per_kind):
            edit(i)
            first(i, lambda x: x["media_ref"])["kind"] = "gif"
            rows.reasons[i] = "kind"
        for i in pick(text_docs, per_kind):
            edit(i)
            first(i, lambda x: x["kind"] == "text")["text"] = None
            rows.reasons[i] = "text_null"
        for i in pick(media_docs, per_kind):
            edit(i)
            first(i, lambda x: x["media_ref"])["media_ref"] = None
            rows.reasons[i] = "media_null"
        for i in pick(text_docs, per_kind):
            s = edit(i)
            s[0]["offset"], s[1]["offset"] = s[1]["offset"], s[0]["offset"]
            rows.reasons[i] = "order"
        for j, i in enumerate(pick(media_docs, per_kind)):
            edit(i)
            first(i, lambda x: x["media_ref"])["media_ref"] = f"x{self.seed}-{j}"
        dups = Rows([], [], [])
        for i in pick(range(len(rows)), per_kind):
            dups.extend(rows.take([i]))
        donors = pick(range(len(rows)), per_kind)
        for i, d in zip(pick(range(len(rows)), per_kind), donors):
            dups.extend(
                Rows([rows.doc_ids[i]], [rows.spans[d]], [rows.content[d]])
            )
        rows.extend(dups)

    def _fresh(self) -> int:
        self._next_content += 1
        return self._next_content - 1


def truth_of(rows: Rows, media_table: set[str]) -> dict:
    """Expected violations of ``rows``, computed in plain Python."""
    counts = Counter(rows.doc_ids)
    contents: dict[str, set[int]] = defaultdict(set)
    for d, c in zip(rows.doc_ids, rows.content):
        if counts[d] > 1:
            contents[d].add(c)
    dangling = sorted(
        {
            x["media_ref"]
            for s in rows.spans
            for x in s
            if x["kind"] != "text"
            and x["media_ref"] is not None
            and x["media_ref"] not in media_table
        }
    )
    return {
        "n_docs": len(rows),
        "head_ids": rows.doc_ids[:300],
        "ucc": {d: c for d, c in sorted(counts.items()) if c > 1},
        "fd": sorted(d for d, cs in contents.items() if len(cs) > 1),
        "span": sorted(
            [rows.doc_ids[i], r] for i, r in rows.reasons.items()
        ),
        "dangling": dangling,
    }


def write(rows: Rows, path: str, files: int = 1) -> None:
    """Write ``rows`` as ``files`` parquet files under directory ``path``, so
    the engine's scan has that many input splits."""
    os.makedirs(path, exist_ok=True)
    t = rows.table()
    step = -(-len(t) // files)
    for f in range(files):
        pq.write_table(
            t.slice(f * step, step), os.path.join(path, f"part-{f:03d}.parquet")
        )


def write_media(media: list[str], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"media_ref": media}), os.path.join(path, "part-000.parquet")
    )


def workload_data(
    gen: Generator, root: str, skew: bool, docs: int, files: int,
    batches: int, batch_docs: int,
) -> dict:
    """Everything one workload reads, written under ``root``:

    * ``docs``     -- the snapshot: uniform (2-15 spans per doc, 15% media
      spans) or, with ``skew``, Zipf span counts, one doc_id repeated
      ``docs // 20`` times and one media_ref taking 40% of media spans;
    * ``baseline`` -- a drifted earlier snapshot (2-25 spans, 45% media);
    * ``media``    -- the media table the IND check references;
    * ``batch-NNN/{inserts,deletes}`` -- the append stream: each batch
      inserts ``batch_docs`` new docs with one violation of each kind and
      re-inserts one existing doc_id; every third batch also deletes a
      quarter of an earlier batch's rows. Batch docs have the uniform
      shape (a Zipf batch of 16 docs may lack the media docs the planted
      violations need); with ``skew`` the re-insert is the hot doc_id.

    Returns the truth of the snapshot and of the table after the stream,
    also written as ``truth.json``."""
    rng = gen.rng
    per_kind = max(2, docs // 4000)

    def uniform(n: int, prefix: str) -> Rows:
        return gen.docs(n, prefix, rng.integers(2, 16, size=n), 0.15)

    if skew:
        spans = np.minimum(rng.zipf(1.8, size=docs) + 1, 400)
        rows = gen.docs(docs, f"s{gen.seed}-", spans, 0.15, hot_ref_p=0.4)
    else:
        rows = uniform(docs, f"s{gen.seed}-")
    gen.plant(rows, per_kind)
    if skew:
        hot = docs // 20
        clones = gen.docs(hot, "", rng.integers(2, 16, size=hot), 0.15)
        clones.doc_ids = [f"hot{gen.seed}"] * hot
        rows.extend(clones)
    nb = docs // 4
    base = gen.docs(
        nb, f"b{gen.seed}-", rng.integers(2, 26, size=nb), 0.45, (0.6, 0.2, 0.2)
    )
    write(rows, f"{root}/docs", files)
    write(base, f"{root}/baseline", max(1, files // 2))
    write_media(gen.media, f"{root}/media")
    media = set(gen.media)
    snap = truth_of(rows, media)
    snap["n_baseline"] = nb
    snap["drift"] = True

    inserted: list[Rows] = []
    live_ins: list[list[int]] = []
    for b in range(batches):
        ins = uniform(batch_docs, f"s{gen.seed}-b{b}-")
        gen.plant(ins, 1)
        # re-insert an existing doc: a UCC violation in a partition the
        # snapshot already populated (the hot doc_id under skew)
        ins.extend(rows.take([len(rows) - 1 if skew else int(rng.integers(0, docs))]))
        write(ins, f"{root}/batch-{b:03d}/inserts")
        if b % 3 == 2:
            src = int(rng.integers(0, b))
            pool = live_ins[src]
            gone = set(rng.choice(len(pool), size=max(1, len(pool) // 4), replace=False).tolist())
            write(inserted[src].take([pool[i] for i in sorted(gone)]),
                  f"{root}/batch-{b:03d}/deletes")
            live_ins[src] = [p for i, p in enumerate(pool) if i not in gone]
        inserted.append(ins)
        live_ins.append(list(range(len(ins))))
    final = Rows([], [], [])
    final.extend(rows)
    for ins, keep in zip(inserted, live_ins):
        final.extend(ins.take(keep))
    truth = {"snapshot": snap, "final": truth_of(final, media), "batches": batches}
    with open(f"{root}/truth.json", "w") as f:
        json.dump(truth, f)
    return truth
