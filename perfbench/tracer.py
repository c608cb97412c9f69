"""Outside-in tracer for one benchmark window.

Spans are taken only from here, by wrapping public functions of the
package where the callers look them up: a module that did
``from ..expression.parser import parse`` holds its own ``parse``
binding, so that binding is wrapped as well as the defining module's.
Nested spans of the same name count once (the outermost), and every
span records the time spent in its traced children, which gives
``rest.self_ms``. The tracer also wraps the py4j gateway client's
``send_command`` (one call = one driver→JVM roundtrip) and reads stage
counters from the JVM status store, which is populated even with
``spark.ui.enabled=false``.

Nothing is patched unless ``install`` is called, and wrappers pass
straight through while the tracer is inactive.
"""

from __future__ import annotations

import importlib
import threading
import time
from collections import defaultdict

# (module, attribute, span name): every binding a caller resolves
SPANS = [
    ("hyper_storage_spark.rest:RestFacade", "handle", "rest.handle"),
    ("hyper_storage_spark.store.documents:DocumentStore", "get", "store.documents.get"),
    ("hyper_storage_spark.store.documents:DocumentStore", "put_txn", "store.documents.write"),
    ("hyper_storage_spark.store.documents:DocumentStore", "patch_txn", "store.documents.write"),
    ("hyper_storage_spark.store.documents:DocumentStore", "feed_events", "store.documents.feed_read"),
    ("hyper_storage_spark.store.storage:Storage", "bucket_rows", "store.storage.bucket_rows"),
    ("hyper_storage_spark.store.storage:Storage", "commit", "store.storage.commit"),
    ("hyper_storage_spark.store.storage:Storage", "commit_external_many", "store.storage.commit"),
    ("hyper_storage_spark.store.query", "query", "store.query"),
    ("hyper_storage_spark.store.query", "query_paged", "store.query"),
    ("hyper_storage_spark.store.query", "parse", "expression.parse"),
    ("hyper_storage_spark.store.documents", "parse", "expression.parse"),
    ("hyper_storage_spark.expression.parser", "parse", "expression.parse"),
    ("hyper_storage_spark.store.query", "apply_filter", "expression.compile"),
    ("hyper_storage_spark.expression.compiler", "apply_filter", "expression.compile"),
    ("hyper_storage_spark.store.query", "weigh_index", "plans.weigh"),
    ("hyper_storage_spark.store.stats", "estimate_rows", "store.stats.estimate"),
    ("hyper_storage_spark.store.rollups", "aggregate", "store.rollups.aggregate"),
    ("hyper_storage_spark.store.rollups", "refresh_rollup", "store.rollups.refresh"),
]


def _resolve(target: str):
    mod, _, cls = target.partition(":")
    m = importlib.import_module(mod)
    return getattr(m, cls) if cls else m


class Tracer:
    def __init__(self):
        self.active = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list = []
        self.reset()

    def reset(self) -> None:
        # name -> [calls, total s, traced-children s]
        self.spans: dict = defaultdict(lambda: [0, 0.0, 0.0])
        self.counters: dict = defaultdict(float)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[name] += n

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, owner, attr: str, name: str, pre=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            stack = tracer._stack()
            if any(f[0] == name for f in stack):
                return orig(*args, **kwargs)  # nested same-name call: outermost counts
            if pre is not None:
                pre(args, kwargs)
            frame = [name, 0.0]
            stack.append(frame)
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            except BaseException as e:
                tracer.count(f"{name}.raised.{type(e).__name__}")
                raise
            finally:
                dt = time.perf_counter() - t0
                stack.pop()
                if stack:
                    stack[-1][1] += dt
                with tracer._lock:
                    s = tracer.spans[name]
                    s[0] += 1
                    s[1] += dt
                    s[2] += frame[1]

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def install(self, spark) -> None:
        def commit_rows(args, kwargs):
            updates = args[1] if len(args) > 1 else kwargs.get("updates", {})
            self.count("store.storage.rows_committed", sum(len(r) for r in updates.values()))

        for target, attr, name in SPANS:
            owner = _resolve(target)
            self.wrap(owner, attr, name, pre=commit_rows if attr == "commit" else None)

        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def send_command(*args, **kwargs):
            if not self.active or getattr(self._local, "quiet", False):
                return send(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with self._lock:
                    self.counters["py4j.roundtrips"] += 1
                    self.counters["py4j.s"] += dt

        client.send_command = send_command
        self._undo.append((client, "send_command", None))

    def tag(self, spark, group: str) -> None:
        """Tag the calling thread's Spark jobs with ``group``; the tag's
        own roundtrips are not counted."""
        self._local.quiet = True
        try:
            spark.sparkContext.setJobGroup(group, group)
        finally:
            self._local.quiet = False

    def uninstall(self) -> None:
        self.active = False
        for owner, attr, orig in reversed(self._undo):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    def ms(self, name: str) -> float:
        return self.spans[name][1] * 1000.0 if name in self.spans else 0.0

    def calls(self, name: str) -> int:
        return self.spans[name][0] if name in self.spans else 0


# -- JVM status store -------------------------------------------------------


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def max_job_id(spark) -> int:
    jobs = _seq(spark.sparkContext._jsc.sc().statusStore().jobsList(None))
    return max((j.jobId() for j in jobs), default=-1)


def spark_counters(spark, after_job_id: int) -> dict:
    """Jobs, stages, tasks, run time and shuffle/spill bytes of every
    job with id > ``after_job_id``, in total and per job group."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    total = defaultdict(float)
    groups: dict = defaultdict(lambda: defaultdict(float))
    stage_group: dict = {}
    for j in _seq(store.jobsList(None)):
        if j.jobId() <= after_job_id:
            continue
        g = j.jobGroup().get() if j.jobGroup().isDefined() else "(none)"
        sub, done = j.submissionTime(), j.completionTime()
        job_ms = done.get().getTime() - sub.get().getTime() if sub.isDefined() and done.isDefined() else 0
        for key, v in (("spark.jobs", 1), ("spark.job_ms", job_ms)):
            total[key] += v
            groups[g][key] += v
        for sid in _seq(j.stageIds()):
            stage_group[sid] = g
    empty = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    for st in _seq(store.stageList(None, False, False, empty, None)):
        g = stage_group.get(st.stageId())
        if g is None or st.status().toString() == "SKIPPED":
            continue
        vals = {
            "spark.stages": 1,
            "spark.tasks": st.numCompleteTasks(),
            "spark.executor_run_ms": st.executorRunTime(),
            "spark.shuffle_read_bytes": st.shuffleReadBytes(),
            "spark.shuffle_write_bytes": st.shuffleWriteBytes(),
            "spark.spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
        }
        for key, v in vals.items():
            total[key] += v
            groups[g][key] += v
    return {"total": dict(total), "groups": {g: dict(v) for g, v in groups.items()}}


def progress_durations(queries) -> list[dict]:
    """Per-batch ``StreamingQueryProgress`` fields of finished queries."""
    out = []
    for q in queries:
        for p in q.recentProgress:
            d = p.durationMs if hasattr(p, "durationMs") else p["durationMs"]
            n = p.numInputRows if hasattr(p, "numInputRows") else p["numInputRows"]
            out.append({"rows": int(n), **{k: int(v) for k, v in dict(d).items()}})
    return out
