"""The benchmark's workloads, driven through the store's public faces:
``RestFacade.handle`` for every read and write, ``run_command_stream``
for streamed commands.

Each workload builds the store once, runs its client loop until the
window closes, then checks what it saw against the shadow model. It returns a
``Run`` with the raw samples; ``run.py`` turns them into metrics.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

import gen
from model import Model, check_feed, document_uri

@dataclass
class Run:
    setup_build_s: float = 0.0
    window_s: float = 0.0
    in_window: int = 0  # client calls that ended before the window's deadline
    calls: int = 0  # client calls (stream_ingest: rounds)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    lat: dict = field(default_factory=lambda: defaultdict(list))  # kind -> [s]
    commands: int = 0  # stream commands applied in the window
    user_bytes: int = 0  # JSON bytes of acknowledged write bodies
    writes: int = 0  # acknowledged writes in the window
    bytes_written: int = 0
    space_amp: float = 0.0
    window: object = None  # the measured Window
    extra: dict = field(default_factory=dict)

    def fail(self, errs: list) -> None:
        self.failed += len(errs)
        self.errors.extend(errs[: max(0, 20 - len(self.errors))])


# -- store set-up -------------------------------------------------------------


def build_store(spark, root: str, data: dict):
    from hyper_storage_spark.rest import RestFacade
    from hyper_storage_spark.store import DocumentStore

    store = DocumentStore(root, spark=spark)
    rows = [
        (iid, b["name"], b["score"], b["cat"], b["ts"], b["amount"], (b["meta"]["v"], b["meta"]["tag"]))
        for iid, b in data["items"].items()
    ]
    store.ingest_collection(spark.createDataFrame(rows, gen.INGEST_SCHEMA), gen.COLL, "id")
    # plain documents before the index catalog exists: write_batch reads
    # the catalog once per op, which makes this load several times slower
    # once the indexes are there
    out = store.write_batch([("put", p, b) for p, b in data["docs"].items()])
    bad = [o for o in out if not (isinstance(o, tuple) and o[1] == 1)]
    if bad:
        raise RuntimeError(f"plain-document load: {bad[:3]}")
    rest = RestFacade(store)
    for spec in (
        {"indexId": "by_name", "sortBy": [{"fieldName": "name", "fieldType": "text"}]},
        {"indexId": "hot", "sortBy": [{"fieldName": "score", "fieldType": "decimal"}], "filterBy": "score > 500"},
    ):
        r = rest.handle("POST", f"{gen.COLL}/_indexes", spec)
        if r.status != 201:
            raise RuntimeError(f"index {spec['indexId']}: {r.status} {r.body}")
    r = rest.handle(
        "POST",
        f"{gen.COLL}/_rollups",
        {"ts_field": "ts", "key_fields": ["cat"], "value_field": "amount", "schema": gen.ITEM_SCHEMA, "rollup_id": "daily"},
    )
    if r.status != 201:
        raise RuntimeError(f"rollup: {r.status} {r.body}")
    return store, rest


def setup(spark, work: str, data: dict, run: Run):
    t0 = time.perf_counter()
    store, rest = build_store(spark, os.path.join(work, "store"), data)
    run.setup_build_s = time.perf_counter() - t0
    return store, rest


# -- measurements shared by the workloads -----------------------------------


def _files(root: str) -> dict:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def manifest_bytes(root: str) -> int:
    """Bytes of every data file the current manifest references."""
    with open(os.path.join(root, "manifest.json")) as fh:
        manifest = json.load(fh)
    total = 0
    for buckets in manifest["tables"].values():
        for rel in buckets.values():
            for r in rel if isinstance(rel, list) else [rel]:
                p = r if os.path.isabs(r) else os.path.join(root, r)
                if os.path.exists(p):
                    total += os.path.getsize(p)
    return total


def feed_files(root: str) -> int:
    with open(os.path.join(root, "manifest.json")) as fh:
        return len(json.load(fh)["tables"].get("feed", {}))


def _revision(rest, path: str) -> int:
    r = rest.handle("GET", path)
    if r.status != 200:
        raise RuntimeError(f"GET {path}: {r.status}")
    return int(r.headers["revision"])


class Window:
    def __init__(self, spark, tracer, seconds: float):
        self.spark, self.tracer, self.seconds = spark, tracer, seconds

    def __enter__(self):
        if self.tracer is not None:
            from tracer import max_job_id

            self.first_job = max_job_id(self.spark)
            self.tracer.reset()
            self.tracer.active = True
        self.t0 = time.perf_counter()
        self.deadline = self.t0 + self.seconds
        return self

    def open(self) -> bool:
        return time.perf_counter() < self.deadline

    def __exit__(self, *exc):
        self.elapsed = time.perf_counter() - self.t0
        if self.tracer is not None:
            self.tracer.active = False
        return False


def tag(tracer, spark, group: str) -> None:
    if tracer is not None:
        tracer.tag(spark, f"perfbench.{group}")


# -- rest_point -----------------------------------------------------------------


def rest_point(spark, work, seed, seconds, tracer, threads) -> Run:
    run = Run()
    data = gen.dataset(seed)
    store, rest = setup(spark, work, data, run)
    model = Model(data)
    base_rev = {p: 1 for p in data["docs"]}
    base_rev[gen.COLL] = _revision(rest, gen.item_path(0))
    before = _files(store.storage.root)

    # one sequence per client over the keys it owns: the model sees each
    # key's ops in order, no client waits on another's key (as it would
    # behind a per-key lock), and every client's ops keep the block mix
    parts = [gen.rest_ops(seed, k, threads) for k in range(threads)]
    done = [0] * threads
    guard = threading.Lock()
    writes: list = []

    def worker(k: int, w: Window):
        mine = parts[k]
        while w.open():
            method, path, body = mine[done[k] % len(mine)]
            done[k] += 1
            tag(tracer, spark, f"rest_point.{method}")
            t0 = time.perf_counter()
            r = rest.handle(method, path, body)
            dt = time.perf_counter() - t0
            if method == "GET":
                errs = model.check_get(path, r.status, r.body)
            elif r.status in (200, 201):
                model.apply(method, path, body)
                uri = document_uri(path)
                item = path.rsplit("/", 1)[1] if uri != path else ""
                with guard:
                    writes.append((uri, int(r.headers["revision"]), item, method.lower()))
                    run.user_bytes += len(json.dumps(body))
                errs = []
            else:
                errs = [f"{method} {path}: status {r.status} {r.body}"]
            with guard:
                run.lat[("get." if method == "GET" else "write.") + gen.key_class(path)].append(dt)
                run.attempted += 1
                run.in_window += t0 + dt <= w.deadline
                if errs:
                    run.fail(errs)

    with Window(spark, tracer, seconds) as w:
        ts = [threading.Thread(target=worker, args=(k, w)) for k in range(threads)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
    run.window_s = w.elapsed
    run.calls = run.attempted
    run.writes = len(writes)
    run.window = w

    # after the window: feed, revisions and read-back against the model
    after = _files(store.storage.root)
    run.bytes_written = sum(s for p, s in after.items() if p not in before)
    uris = {u for u, *_ in writes}
    events = [e for e in store.storage.all_rows("feed") if e["document_uri"] in uris]
    run.fail(check_feed(events, writes, base_rev))
    written = sorted({path for k, mine in enumerate(parts) for method, path, _ in (mine[i % len(mine)] for i in range(done[k]))
                      if method != "GET"})
    for p in written:
        r = rest.handle("GET", p)
        run.fail(model.check_get(p, r.status, r.body))
    run.space_amp = manifest_bytes(store.storage.root) / model.live_json_bytes()
    run.extra["feed_files"] = feed_files(store.storage.root)
    return run


# -- collection_query -------------------------------------------------------------


def _query_params(call: dict) -> dict:
    shape = call["shape"]
    if shape == "indexed":
        return {"filter": f"score > {call['lo']}", "sort": call["sort"], "size": gen.PAGE_SIZE}
    if shape == "residual":
        return {"filter": f'cat = "{call["cat"]}" and amount > {call["amount"]}', "sort": call["sort"], "size": gen.PAGE_SIZE}
    if shape == "inexact":
        return {"filter": f'cat = "{call["cat"]}"', "sort": call["sort"], "size": gen.PAGE_SIZE}
    return {"filter": f"score > {call['lo']}", "sort": call["sort"], "size": gen.PAGE_SIZE, "paged": True}


AGG_PARAMS = {"ts_field": "ts", "key_fields": "cat", "value_field": "amount"}
TOP_HITS = 3


def _call(rest, call: dict):
    if call["shape"] == "aggregate":
        return rest.handle("GET", f"{gen.COLL}/_aggregate", **AGG_PARAMS)
    return rest.handle("GET", gen.COLL, **_query_params(call))


def collection_query(spark, work, seed, seconds, tracer, threads) -> Run:
    run = Run()
    data = gen.dataset(seed)
    store, rest = setup(spark, work, data, run)
    model = Model(data)
    calls = gen.query_calls(seed)
    # one untimed pass over the five shapes: first-use JIT and plan caches
    for call in calls[len(calls) - len(gen.QUERY_SHAPES):]:
        _call(rest, call)
    seen = []
    with Window(spark, tracer, seconds) as w:
        i = 0
        while w.open():
            call = calls[i % len(calls)]
            i += 1
            tag(tracer, spark, f"collection_query.{call['shape']}")
            t0 = time.perf_counter()
            r = _call(rest, call)
            t1 = time.perf_counter()
            run.lat[call["shape"]].append(t1 - t0)
            run.attempted += 1
            run.in_window += t1 <= w.deadline
            got = []
            if call["shape"] != "aggregate" and r.status == 200:
                # the client opens the top hits
                for el in r.body["_embedded"]["els"][:TOP_HITS]:
                    top = f"{gen.COLL}/{el['id']}"
                    tag(tracer, spark, "collection_query.GET")
                    t0 = time.perf_counter()
                    g = rest.handle("GET", top)
                    t1 = time.perf_counter()
                    run.lat["get.item"].append(t1 - t0)
                    run.attempted += 1
                    run.in_window += t1 <= w.deadline
                    got.append((top, g.status, g.body))
            seen.append((call, r.status, r.body, r.headers, got))
    run.window_s = w.elapsed
    run.calls = i
    run.window = w
    # the collection does not change in this workload: check afterwards
    modes: dict = defaultdict(int)
    for call, status, body, headers, got in seen:
        if call["shape"] == "aggregate":
            errs = model.check_aggregate(status, body)
            modes[headers.get("rollup-refresh")] += 1
            if headers.get("rollup-refresh") != "fresh":
                errs.append(f"_aggregate served {headers.get('rollup-refresh')!r}, expected a fresh rollup")
        else:
            errs = model.check_query(call, status, body)
        for g in got:
            errs += model.check_get(*g)
        run.fail(errs)
    run.space_amp = manifest_bytes(store.storage.root) / model.live_json_bytes()
    run.extra["feed_files"] = feed_files(store.storage.root)
    run.extra["refresh_modes"] = dict(modes)
    return run


# -- stream_ingest ----------------------------------------------------------------

INDEXED_PROBE = {"shape": "indexed", "lo": 900, "sort": "score"}
ROUNDS_AHEAD = 4  # a 15 s window holds one or two rounds


def stream_ingest(spark, work, seed, seconds, tracer, threads) -> Run:
    from hyper_storage_spark.streaming.ingest import run_command_stream, write_commands

    run = Run()
    data = gen.dataset(seed)
    store, rest = setup(spark, work, data, run)
    producer = gen.CommandRounds(seed)
    cmd_dir = os.path.join(work, "commands")
    ckpt = os.path.join(work, "checkpoint")
    base_rev = {p: 1 for p in data["docs"]}
    base_rev[gen.COLL] = _revision(rest, gen.item_path(0))
    queries, seen = [], []

    def one_round(cmds: list) -> None:
        ok = [c for c in cmds if not c.get("malformed")]
        tag(tracer, spark, "stream_ingest.round")
        t0 = time.perf_counter()
        write_commands(cmd_dir, cmds)
        queries.append(run_command_stream(spark, store, cmd_dir, ckpt, available_now=True))
        t1 = time.perf_counter()
        store.feed_events()
        t2 = time.perf_counter()
        tag(tracer, spark, "stream_ingest.aggregate")
        ra = rest.handle("GET", f"{gen.COLL}/_aggregate", **AGG_PARAMS)
        t3 = time.perf_counter()
        tag(tracer, spark, "stream_ingest.query")
        rq = rest.handle("GET", gen.COLL, **_query_params(INDEXED_PROBE))
        t4 = time.perf_counter()
        # read back part of what the round wrote: every other path, so
        # items and plain documents both
        got = []
        tag(tracer, spark, "stream_ingest.GET")
        for path in sorted({c["path"] for c in ok})[::2][: gen.READBACK_PER_ROUND]:
            t5 = time.perf_counter()
            g = rest.handle("GET", path)
            run.lat["get." + gen.key_class(path)].append(time.perf_counter() - t5)
            got.append((path, g.status, g.body))
        run.lat["round"].append(t2 - t0)
        run.lat["feed_read"].append(t2 - t1)
        run.lat["aggregate"].append(t3 - t2)
        run.lat["indexed"].append(t4 - t3)
        run.commands += len(ok)
        run.attempted += len(ok) + 2 + len(got)
        seen.append((cmds, ra, rq, got))

    # the first round of a run is measured too: it includes the stream's
    # start-up and the Python workers' first applyInPandas call. Rounds
    # are generated ahead, so the window holds no generator work.
    rounds = [producer.next_round() for _ in range(ROUNDS_AHEAD)]
    before = _files(store.storage.root)
    with Window(spark, tracer, seconds) as w:
        n = 0
        while w.open():
            if n == len(rounds):
                rounds.append(producer.next_round())
            one_round(rounds[n])
            n += 1
    run.window_s = w.elapsed
    run.calls = n
    run.window = w
    after = _files(store.storage.root)
    run.bytes_written = sum(s for p, s in after.items() if p not in before)

    # after the window: replay the rounds on the model and check what
    # each round's reads returned, then the feed and the dead letters
    model = Model(data)
    rev, writes, modes = dict(base_rev), [], defaultdict(int)
    for cmds, ra, rq, got in seen:
        for c in cmds:
            if c.get("malformed"):
                continue
            uri = document_uri(c["path"])
            rev[uri] = rev.get(uri, 0) + 1
            item = c["path"].rsplit("/", 1)[1] if uri != c["path"] else ""
            writes.append((uri, rev[uri], item, c["method"]))
            model.apply(c["method"], c["path"], c["body"])
            if c["body"] is not None:
                run.user_bytes += len(json.dumps(c["body"]))
        errs = model.check_aggregate(ra.status, ra.body)
        modes[ra.headers.get("rollup-refresh")] += 1
        errs += model.check_query(INDEXED_PROBE, rq.status, rq.body)
        for g in got:
            errs += model.check_get(*g)
        run.fail(errs)
    uris = {u for u, *_ in writes}
    # checked in publication order, which feed_events() sorts away
    events = [e for e in store.storage.all_rows("feed") if e["document_uri"] in uris]
    run.fail(check_feed(events, writes, base_rev))
    dead = len(store.storage.all_rows("dead_letter"))
    if dead != n * gen.ROUND_MALFORMED:
        run.fail([f"{dead} dead letter(s) for {n * gen.ROUND_MALFORMED} malformed command(s)"])
    run.writes = run.commands
    run.space_amp = manifest_bytes(store.storage.root) / model.live_json_bytes()
    run.extra["feed_files"] = feed_files(store.storage.root)
    run.extra["refresh_modes"] = dict(modes)
    run.extra["queries"] = queries
    run.extra["dead_letters"] = dead
    return run


WORKLOADS = {
    "rest_point": rest_point,
    "collection_query": collection_query,
    "stream_ingest": stream_ingest,
}

