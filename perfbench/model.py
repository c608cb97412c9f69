"""Plain-Python shadow model of the store, independent of the package.

It holds what every document should look like after the acknowledged
writes, and answers the benchmark's queries and aggregates by a Python
filter/sort/group over that state. Each ``check_*`` returns a list of
mismatch strings; the workloads count one failed op per mismatch.
"""

from __future__ import annotations

import json
from collections import defaultdict
from decimal import Decimal

from gen import COLL, PAGE_SIZE


def drop_nulls(body):
    """Strip null members, recursing into objects only (lists are kept
    as they are): how the store writes every PUT and PATCH result."""
    if isinstance(body, dict):
        return {k: drop_nulls(v) for k, v in body.items() if v is not None}
    return body


def merge_patch(target, patch):
    """The store's specified PATCH: a shallow merge of the patch's
    top-level members over the existing body, then ``drop_nulls``. A
    nested object in the patch replaces the existing one wholesale (no
    recursive RFC 7386 merge); a null member deletes that key. A
    non-object operand: the patch wins."""
    if isinstance(target, dict) and isinstance(patch, dict):
        return drop_nulls({**target, **patch})
    return drop_nulls(patch)


def document_uri(path: str) -> str:
    return COLL if path.startswith(COLL + "/") else path


class Model:
    def __init__(self, data: dict):
        self.bodies: dict[str, object] = {}
        for item_id, body in data["items"].items():
            self.bodies[f"{COLL}/{item_id}"] = {**body, "id": item_id}
        for path, body in data["docs"].items():
            self.bodies[path] = dict(body)

    # -- writes ------------------------------------------------------------

    def apply(self, method: str, path: str, body) -> None:
        if method in ("put", "PUT"):
            new = drop_nulls(body)
            if path.startswith(COLL + "/"):
                new = {**new, "id": path.rsplit("/", 1)[1]}
            self.bodies[path] = new
        elif method in ("patch", "PATCH"):
            self.bodies[path] = merge_patch(self.bodies[path], body)
        else:
            self.bodies.pop(path, None)

    def items(self) -> list[dict]:
        return [b for p, b in self.bodies.items() if p.startswith(COLL + "/")]

    def live_json_bytes(self) -> int:
        return sum(len(json.dumps(b)) for b in self.bodies.values())

    # -- reads -------------------------------------------------------------

    def check_get(self, path: str, status: int, body) -> list[str]:
        want = self.bodies.get(path)
        if want is None:
            return [] if status == 404 else [f"GET {path}: status {status}, expected 404"]
        if status != 200:
            return [f"GET {path}: status {status}"]
        return [] if body == want else [f"GET {path}: body {body!r} != model {want!r}"]

    def expected_query(self, call: dict) -> list[dict]:
        """The model's answer for one collection_query call shape."""
        shape, items = call["shape"], self.items()
        if shape == "indexed":
            hit = [b for b in items if b["score"] > call["lo"]]
            return sorted(hit, key=lambda b: (Decimal(str(b["score"])), b["id"]))[:PAGE_SIZE]
        if shape == "residual":
            hit = [b for b in items if b["cat"] == call["cat"] and b["amount"] > call["amount"]]
            return sorted(hit, key=lambda b: b["id"])[:PAGE_SIZE]
        if shape == "inexact":
            hit = [b for b in items if b["cat"] == call["cat"]]
            return sorted(hit, key=lambda b: -b["amount"])[:PAGE_SIZE]
        if shape == "paged":
            hit = [b for b in items if b["score"] > call["lo"]]
            return sorted(hit, key=lambda b: (b["name"], b["id"]))[:PAGE_SIZE]
        raise ValueError(shape)

    def check_query(self, call: dict, status: int, body) -> list[str]:
        if status != 200:
            return [f"query {call}: status {status}"]
        got = body["_embedded"]["els"]
        want = self.expected_query(call)
        if call["shape"] != "inexact":
            if [g.get("id") for g in got] != [w["id"] for w in want]:
                return [f"query {call}: ids {[g.get('id') for g in got][:5]}... != model {[w['id'] for w in want][:5]}..."]
        else:
            # Python-side sort of an inexact match: ties on amount may come
            # in any order, so compare the key sequence and every body
            if [g.get("amount") for g in got] != [w["amount"] for w in want]:
                return [f"query {call}: amounts differ from the model"]
        bad = [g.get("id") for g in got if self.bodies.get(f"{COLL}/{g.get('id')}") != g]
        return [f"query {call}: bodies differ for {bad[:5]}"] if bad else []

    def expected_aggregate(self) -> dict:
        groups: dict = defaultdict(lambda: [0, Decimal(0), None, None])
        for b in self.items():
            g = groups[(b["cat"], b["ts"][:10] + " 00:00:00")]
            v = Decimal(b["amount"])
            g[0] += 1
            g[1] += v
            g[2] = v if g[2] is None else min(g[2], v)
            g[3] = v if g[3] is None else max(g[3], v)
        return {k: (n, t, lo, hi) for k, (n, t, lo, hi) in groups.items()}

    def check_aggregate(self, status: int, body) -> list[str]:
        if status != 200:
            return [f"_aggregate: status {status}"]
        got = {
            (r["cat"], r["bucket_start"]): (r["n"], Decimal(str(r["total"])), Decimal(str(r["vmin"])), Decimal(str(r["vmax"])))
            for r in body["_embedded"]["els"]
        }
        want = self.expected_aggregate()
        if got == want:
            return []
        diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        return [f"_aggregate: {len(diff)} group(s) differ, e.g. {diff[0]}: {got.get(diff[0])} != {want.get(diff[0])}"]


def check_feed(events: list[dict], writes: list[tuple], base_rev: dict) -> list[str]:
    """Exactly one feed event per acknowledged write, gapless and in
    revision order per document. ``writes`` holds (uri, revision,
    item_id, method) of every acknowledged write; ``events`` are the
    feed rows of those documents newer than ``base_rev``."""
    errs: list[str] = []
    want_by_uri: dict = defaultdict(list)
    for uri, rev, item_id, method in writes:
        want_by_uri[uri].append((rev, item_id, method))
    got_by_uri: dict = defaultdict(list)
    for e in events:
        if e["revision"] > base_rev.get(e["document_uri"], 0):
            got_by_uri[e["document_uri"]].append(
                (e["revision"], e["item_id"] or "", e["method"].rsplit(":", 1)[-1])
            )
    for uri in sorted(set(want_by_uri) | set(got_by_uri)):
        want = sorted(want_by_uri.get(uri, []))
        got = got_by_uri.get(uri, [])
        revs = [w[0] for w in want]
        first = base_rev.get(uri, 0) + 1
        if revs != list(range(first, first + len(revs))):
            errs.append(f"revisions of {uri} not gapless: {revs[:8]}")
        if [g[0] for g in got] != sorted(g[0] for g in got):
            errs.append(f"feed of {uri} out of revision order")
        if sorted(got) != want:
            errs.append(f"feed of {uri}: {len(got)} event(s) for {len(want)} acknowledged write(s)")
    return errs
