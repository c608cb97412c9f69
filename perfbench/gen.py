"""Seeded input generator for the store benchmark.

Everything the program under test receives is made here from one
``seed``: the initial collection and plain documents, the REST op
sequence of ``rest_point``, the query rotation of ``collection_query``
and the command rounds of ``stream_ingest``. The same seed yields
byte-identical inputs (see ``fingerprint``); nothing here imports the
package, so the generator cannot drift with the code it measures.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import random
import zlib

COLL = "coll~"
N_ITEMS = 20_000
N_DOCS = 2_000
CATS = [f"c{i}" for i in range(8)]
ZIPF_S = 1.1

# the five collection_query call shapes, rotated in this order
QUERY_SHAPES = ("indexed", "residual", "inexact", "paged", "aggregate")
PAGE_SIZE = 50

# stream_ingest: one command file per round
ROUND_COMMANDS = 500
ROUND_MALFORMED = 5  # fixed 1%; each must become exactly one dead letter
STREAM_ITEMS = 100
STREAM_DOCS = 100
READBACK_PER_ROUND = 100

ITEM_SCHEMA = "name string, score double, cat string, ts string, amount long"
INGEST_SCHEMA = (
    "id string, name string, score double, cat string, ts string, amount long, "
    "meta struct<v:long,tag:string>"
)


def item_path(k: int) -> str:
    return f"{COLL}/i{k:05d}"


def doc_path(k: int) -> str:
    return f"d{k:04d}"


def key_class(path: str) -> str:
    """"item" for a collection item, "doc" for a plain document: the
    two differ in cost (an item lives in the 20,000-item bucket)."""
    return "item" if path.startswith(COLL + "/") else "doc"


def _item_body(rng: random.Random) -> dict:
    return {
        "name": f"n{rng.randrange(10**6):06d}",
        "score": round(rng.uniform(0, 1000), 2),
        "cat": rng.choice(CATS),
        "ts": f"2026-09-{1 + rng.randrange(28):02d}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:00Z",
        "amount": rng.randrange(1, 10_000),
        "meta": {"v": rng.randrange(100), "tag": rng.choice(["a", "b", "c"])},
    }


def _doc_body(rng: random.Random) -> dict:
    return {
        "v": rng.randrange(10**6),
        "o": {"a": rng.randrange(100), "b": f"s{rng.randrange(1000)}", "n": {"x": rng.randrange(10)}},
    }


def dataset(seed: int) -> dict:
    """Initial store contents: ``items`` maps item id → body (without the
    server-injected ``id``), ``docs`` maps plain-document path → body."""
    rng = random.Random(f"dataset:{seed}")
    items = {f"i{k:05d}": _item_body(rng) for k in range(N_ITEMS)}
    docs = {doc_path(k): _doc_body(rng) for k in range(N_DOCS)}
    return {"items": items, "docs": docs}


class Zipf:
    """Zipf(s) over ``keys``. The popularity order is a fixed shuffle, the
    same for every seed (as YCSB's scrambled Zipfian): which keys are hot
    decides whether hot writes rewrite the 20,000-item bucket, and that
    must not change from seed to seed. The seed drives the draws. With
    ``keep``, only the keys it accepts are drawn, each with its weight
    in the full order."""

    def __init__(self, keys: list, s: float, keep=lambda key: True):
        ranked = list(keys)
        random.Random("zipf-ranks").shuffle(ranked)
        acc, self.keys, cum = 0.0, [], []
        for r, key in enumerate(ranked, 1):
            if keep(key):
                acc += 1.0 / r**s
                self.keys.append(key)
                cum.append(acc)
        self.cum = [c / acc for c in cum]

    def draw(self, rng: random.Random):
        return self.keys[min(bisect.bisect_left(self.cum, rng.random()), len(self.keys) - 1)]


def _item_patch(rng: random.Random) -> dict:
    """Merge patch on a collection item: moves indexed and aggregated
    fields and replaces the nested ``meta`` object wholesale (the
    store's PATCH is shallow), often with null members the store strips."""
    p: dict = {}
    if rng.random() < 0.6:
        p["score"] = round(rng.uniform(0, 1000), 2)
    if rng.random() < 0.4:
        p["amount"] = rng.randrange(1, 10_000)
    meta: dict = {}
    if rng.random() < 0.5:
        meta["tag"] = None  # null-delete a nested field
    if rng.random() < 0.7:
        meta["extra"] = {"k": rng.randrange(100), "z": None}
    if rng.random() < 0.3:
        meta["v"] = rng.randrange(100)
    if meta:
        p["meta"] = meta
    return p or {"meta": {"touched": True}}


def _doc_patch(rng: random.Random) -> dict:
    p: dict = {"v": rng.randrange(10**6)}
    o: dict = {}
    if rng.random() < 0.5:
        o["b"] = None
    if rng.random() < 0.6:
        o["n"] = {"y": rng.randrange(10), "x": None} if rng.random() < 0.5 else None
    if rng.random() < 0.5:
        o["c"] = f"t{rng.randrange(1000)}"
    if o:
        p["o"] = o
    return p


# rest_point mix per block of 50 ops, half on collection items and half
# on plain documents: 80% GET, 12% PUT, 8% merge-PATCH. Fixing the
# composition of every block (its order is seeded) keeps the number of
# expensive collection writes in a short window the same for every seed.
REST_BLOCK = [("GET", True)] * 20 + [("GET", False)] * 20 + [("PUT", True)] * 3 + [("PUT", False)] * 3 \
    + [("PATCH", True)] * 2 + [("PATCH", False)] * 2


def owner(path: str, clients: int) -> int:
    """The ``rest_point`` client that uses ``path``: each key has one, so
    no two clients use a key at once."""
    return zlib.crc32(path.encode()) % clients


def rest_ops(seed: int, client: int = 0, clients: int = 1, n: int = 10_000) -> list[tuple]:
    """``rest_point`` op sequence of one of ``clients`` clients: (method,
    path, body), blocks of REST_BLOCK in seeded order, keys Zipf(1.1)-
    skewed within the collection items and within the plain documents
    that this client owns."""
    rng = random.Random(f"rest:{seed}:{client}/{clients}")
    mine = lambda path: owner(path, clients) == client  # noqa: E731
    items = Zipf([item_path(k) for k in range(N_ITEMS)], ZIPF_S, mine)
    docs = Zipf([doc_path(k) for k in range(N_DOCS)], ZIPF_S, mine)
    ops = []
    while len(ops) < n:
        block = list(REST_BLOCK)
        rng.shuffle(block)
        for method, is_item in block:
            path = (items if is_item else docs).draw(rng)
            if method == "GET":
                ops.append(("GET", path, None))
            elif method == "PUT":
                ops.append(("PUT", path, _item_body(rng) if is_item else _doc_body(rng)))
            else:
                ops.append(("PATCH", path, _item_patch(rng) if is_item else _doc_patch(rng)))
    return ops[:n]


def query_calls(seed: int, n: int = 2_000) -> list[dict]:
    """``collection_query`` call sequence: the five shapes in rotation.
    Thresholds come from narrow seeded ranges, so every call of a shape
    has about the same selectivity (the paged shape's cost grows with its
    threshold: more pages are skipped to fill one)."""
    rng = random.Random(f"query:{seed}")
    calls = []
    for i in range(n):
        shape = QUERY_SHAPES[i % len(QUERY_SHAPES)]
        if shape == "indexed":
            # implied by the filtered index (score > 500), exact sort on it
            calls.append({"shape": shape, "lo": rng.randrange(780, 820), "sort": "score"})
        elif shape == "residual":
            calls.append({"shape": shape, "cat": rng.choice(CATS), "amount": rng.randrange(4900, 5100), "sort": "id"})
        elif shape == "inexact":
            calls.append({"shape": shape, "cat": rng.choice(CATS), "sort": "-amount"})
        elif shape == "paged":
            calls.append({"shape": shape, "lo": rng.randrange(280, 320), "sort": "name"})
        else:
            calls.append({"shape": shape})
    return calls


class CommandRounds:
    """``stream_ingest`` producer: each round is ~500 put/patch/delete
    commands over a fixed set of ~100 collection items and ~100 plain
    documents, plus ROUND_MALFORMED malformed ones. The generator keeps
    its own existence map so that every well-formed command applies
    (no patch or delete of a missing key)."""

    def __init__(self, seed: int):
        self.rng = random.Random(f"stream:{seed}")
        pick = random.Random(f"stream-keys:{seed}")
        self.items = [item_path(k) for k in sorted(pick.sample(range(N_ITEMS), STREAM_ITEMS))]
        self.docs = [doc_path(k) for k in sorted(pick.sample(range(N_DOCS), STREAM_DOCS))]
        self.live = set(self.items) | set(self.docs)
        self.seq = 0
        self.rounds = 0

    def _malformed(self, i: int) -> dict:
        kind = i % 4
        if kind == 0:
            return {"method": "merge", "path": self.docs[0], "body": {"v": 1}}
        if kind == 1:
            return {"method": "put", "path": f"{COLL}/bad{i}", "body": [1, 2, 3]}
        if kind == 2:
            return {"method": "patch", "path": COLL, "body": {"v": 1}}
        return {"method": "put", "path": "bad path!", "body": {"v": 1}}

    def next_round(self) -> list[dict]:
        rng = self.rng
        bad_at = set(rng.sample(range(ROUND_COMMANDS), ROUND_MALFORMED))
        cmds, bad_i = [], 0
        for pos in range(ROUND_COMMANDS):
            if pos in bad_at:
                c = self._malformed(self.rounds * ROUND_MALFORMED + bad_i)
                bad_i += 1
                c["malformed"] = True
            else:
                path = rng.choice(self.items if rng.random() < 0.5 else self.docs)
                is_item = path.startswith(COLL)
                alive = path in self.live
                u = rng.random()
                if not alive or u < 0.45:
                    body = _item_body(rng) if is_item else _doc_body(rng)
                    c = {"method": "put", "path": path, "body": body}
                    self.live.add(path)
                elif u < 0.93:
                    c = {"method": "patch", "path": path, "body": _item_patch(rng) if is_item else _doc_patch(rng)}
                else:
                    c = {"method": "delete", "path": path, "body": None}
                    self.live.discard(path)
            self.seq += 1
            c["seq"] = self.seq
            cmds.append(c)
        self.rounds += 1
        return cmds


def fingerprint(seed: int, rounds: int = 3) -> str:
    """sha256 over every generated input for ``seed`` (dataset, REST
    ops of four clients, query calls, the first ``rounds`` command
    rounds)."""
    h = hashlib.sha256()
    enc = lambda o: json.dumps(o, sort_keys=True, separators=(",", ":")).encode()  # noqa: E731
    h.update(enc(dataset(seed)))
    for k in range(4):
        h.update(enc(rest_ops(seed, k, 4)))
    h.update(enc(query_calls(seed)))
    cr = CommandRounds(seed)
    for _ in range(rounds):
        h.update(enc(cr.next_round()))
    return h.hexdigest()
