"""Seeded inputs for the workloads, and the exact answers they are checked against.

Everything here is pure Python / pyarrow / numpy: no Spark, so the
generators and the references can be tested without a session.

Files are written to a temporary name and moved into place with
``os.replace``, so a run killed mid-write never leaves a truncated file
that a later run would trust. A cached file that fails to read is
regenerated.
"""

from __future__ import annotations

import hashlib
import os
import random
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- atomic, self-healing parquet cache -------------------------------------


def write_parquet_atomic(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def cached_parquet(path: str, build: Callable[[], pa.Table]) -> str:
    """Return ``path``, (re)building it when it is missing or unreadable."""
    if os.path.exists(path):
        try:
            pq.read_metadata(path)
            return path
        except (OSError, pa.ArrowInvalid):
            os.remove(path)
    write_parquet_atomic(build(), path)
    return path


# --- dedup_growth corpus -----------------------------------------------------

CONTENT_TOKENS = 40
SNIPPET_POOL = 50
SNIPPET_TOKENS = 12
CLUSTER = 4  # near-duplicate copies planted at the start of every 100 docs
SNIPPETS = [
    " ".join(f"bp{s}t{j}" for j in range(SNIPPET_TOKENS)) for s in range(SNIPPET_POOL)
]


def dedup_documents(seed: int, n_docs: int) -> tuple[list[int], list[str]]:
    """The realistic-growth regime: every document has 40 content tokens
    of its own and two boilerplate snippets drawn from a fixed pool (so
    per-shingle document frequency grows with the corpus); the first 4
    documents of every 100 are one near-duplicate cluster, each copy
    with one content token replaced (so the true answer grows linearly)."""
    rng = random.Random(seed)
    ids: list[int] = []
    texts: list[str] = []
    cluster: tuple[list[str], str, str] | None = None
    for i in range(n_docs):
        r = i % 100
        if r == 0 or r >= CLUSTER:
            content = [f"w{rng.getrandbits(40):010x}" for _ in range(CONTENT_TOKENS)]
            s1 = SNIPPETS[rng.randrange(SNIPPET_POOL)]
            s2 = SNIPPETS[rng.randrange(SNIPPET_POOL)]
            if r == 0:
                cluster = (content, s1, s2)
        else:
            assert cluster is not None
            content, s1, s2 = cluster
            content = list(content)
            content[rng.randrange(CONTENT_TOKENS)] = f"p{rng.getrandbits(40):010x}"
        half = CONTENT_TOKENS // 2
        texts.append(" ".join(content[:half]) + " " + s1 + " " + " ".join(content[half:]) + " " + s2)
        ids.append(i)
    return ids, texts


def dedup_corpus(cache_dir: str, seed: int, n_docs: int) -> str:
    """Directory holding ``documents.parquet`` for (seed, n_docs)."""
    d = os.path.join(cache_dir, f"dedup_s{seed}_n{n_docs}")

    def build() -> pa.Table:
        ids, texts = dedup_documents(seed, n_docs)
        return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts})

    cached_parquet(os.path.join(d, "documents.parquet"), build)
    return d


SHINGLE_N = 3  # word n-grams, the registry dedup rows' default
JACCARD_MIN = 0.8  # q_d2 / q_d3 / q_d6 keep pairs at or above this
SIMHASH_BITS = 64
SIMHASH_MAX_HAMMING = 3  # q_d4 keeps pairs within this distance


def shingles(text: str) -> set[str]:
    """Distinct word 3-grams, as the engine's dedup operators cut them."""
    ws = text.split()
    return {" ".join(ws[i : i + SHINGLE_N]) for i in range(len(ws) - SHINGLE_N + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    inter = len(a & b)
    return round(inter / (len(a) + len(b) - inter), 6)


def planted_pairs(ids: list[int], texts: list[str]) -> dict[tuple[int, int], float]:
    """Exact Jaccard over every pair inside a planted cluster, kept when
    it reaches ``JACCARD_MIN``. Documents outside a cluster share only
    boilerplate shingles (at most 2 × 10 of ~62), so no other pair can
    reach 0.8: this is the full answer of the Jaccard rows."""
    out: dict[tuple[int, int], float] = {}
    for start in range(0, len(ids), 100):
        members = list(range(start, min(start + CLUSTER, len(ids))))
        sets = {i: shingles(texts[i]) for i in members}
        for x in members:
            for y in members:
                if x < y:
                    j = jaccard(sets[x], sets[y])
                    if j >= JACCARD_MIN:
                        out[(ids[x], ids[y])] = j
    return out


def simhash(text: str) -> int:
    """The engine's SimHash signature of ``text`` as an unsigned 64-bit
    int: bit b is the majority vote (ties set it) of bit b over the md5
    of each distinct shingle, bits 0-31 taken from the first 8 hex digits
    and bits 32-63 from the next 8."""
    hs = [hashlib.md5(s.encode()).hexdigest() for s in shingles(text)]
    halves = np.array([[int(h[:8], 16), int(h[8:16], 16)] for h in hs], dtype="<u4")
    bits = np.unpackbits(halves.view(np.uint8), axis=1, bitorder="little")
    ones = bits.sum(axis=0, dtype=np.int64)
    return sum(1 << b for b in range(SIMHASH_BITS) if 2 * ones[b] >= len(hs))


def simhash_pairs(ids: list[int], texts: list[str]) -> dict[tuple[int, int], int]:
    """(id_a, id_b) -> hamming distance of every pair within
    ``SIMHASH_MAX_HAMMING``: the full answer of q_d4. Candidates share one
    of four 16-bit blocks, which every such pair does."""
    sigs = {i: simhash(t) for i, t in zip(ids, texts)}
    out: dict[tuple[int, int], int] = {}
    for pos in range(0, SIMHASH_BITS, 16):
        buckets: dict[int, list[int]] = {}
        for i, sig in sigs.items():
            buckets.setdefault((sig >> pos) & 0xFFFF, []).append(i)
        for members in buckets.values():
            for x in members:
                for y in members:
                    d = bin(sigs[x] ^ sigs[y]).count("1")
                    if x < y and d <= SIMHASH_MAX_HAMMING:
                        out[(x, y)] = d
    return out


def components(pairs) -> dict[int, int]:
    """node -> smallest node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


# --- stream_resequence events ------------------------------------------------


# The stream's traffic. These shares come from no measured trace: they
# are set so that every micro-batch has skewed keys, events that arrive
# out of order and events that arrive twice for ``resequence`` to
# handle. The README shows the gated stream figures do not move when
# they change.
STREAM_KEYS = 64
STREAM_ZIPF_S = 1.1
STREAM_LATE_SHARE = 0.05  # held back 1 to STREAM_HOLD_FILES files
STREAM_DUP_SHARE = 0.02  # written again 1 to STREAM_HOLD_FILES files later
STREAM_HOLD_FILES = 3


class EventSchedule:
    """Per-file event lists for an open-loop generator.

    File ``f`` holds ``n`` events due at an even spacing inside its
    interval. Keys follow a Zipf law; each key's seq is dense from 1. A
    seeded share of events is held back a few files (out of order
    across files) and a seeded share is written twice."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.keys = [f"k{i:04d}" for i in range(STREAM_KEYS)]
        self.weights = [1.0 / (i + 1) ** STREAM_ZIPF_S for i in range(STREAM_KEYS)]
        self.next_seq = dict.fromkeys(self.keys, 1)
        self.held: dict[int, list[tuple[str, int, float]]] = {}
        self.generated: list[tuple[str, int]] = []

    def file_events(self, f: int, due_s: float, n: int, interval_s: float) -> list[tuple[str, int, float]]:
        """Events to write in file ``f``: its own (minus held-back ones),
        earlier held-back ones now due, and seeded duplicates."""
        rng = self.rng
        out = self.held.pop(f, [])
        for i, k in enumerate(rng.choices(self.keys, self.weights, k=n)):
            seq = self.next_seq[k]
            self.next_seq[k] = seq + 1
            ev = (k, seq, due_s + interval_s * i / n)
            self.generated.append((k, seq))
            roll = rng.random()
            if roll < STREAM_LATE_SHARE:
                self.held.setdefault(f + rng.randint(1, STREAM_HOLD_FILES), []).append(ev)
            else:
                out.append(ev)
                if roll < STREAM_LATE_SHARE + STREAM_DUP_SHARE:
                    self.held.setdefault(f + rng.randint(1, STREAM_HOLD_FILES), []).append(ev)
        return out

    def flush(self) -> list[tuple[str, int, float]]:
        """Every event still held back (written in the final file)."""
        out = [ev for f in sorted(self.held) for ev in self.held[f]]
        self.held.clear()
        return out


def payload(due_s: float) -> str:
    return f"{due_s:.6f}"
