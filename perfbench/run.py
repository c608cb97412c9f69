"""Store benchmark: REST point ops, collection queries and stream ingest.

Run from the root of a checkout:

    python3 perfbench/run.py --workload rest_point --seed 1 --seconds 15 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced window. The last stdout line is the result
``{"correct", "attempted", "failed", "metrics"}``; the line before it
(``{"perfbench": ...}``) carries the stamp (nproc, Spark version and
confs, data sizes, seed), every named metric with its unit, and the
first shadow-model mismatches. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "2g"
# the end-to-end metrics of BENCHMARK.json: the ones every workload has
# and that repeat from run to run within their bounds (README.md)
GATED = ("setup_s", "ops_per_s", "space_amp")


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def launcher_env(work: str) -> None:
    """Environment for the driver JVM and the Python workers: the repo
    on PYTHONPATH (workers import the package), one Spark core per CPU,
    a driver heap that fits a shared box, scratch space in the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata: a JVM writes it under /tmp whatever java.io.tmpdir says;
    # spark-submit starts a launcher JVM before the driver JVM
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{jvm_opts}" pyspark-shell'


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def p(values: list, q: float) -> float:
    """Nearest-rank percentile of ``values`` (seconds) in ms."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)] * 1000.0


def median_ms(values: list) -> float:
    return statistics.median(values) * 1000.0 if values else 0.0


def mix_ms(lat: dict, weights: dict) -> float:
    """Geometric mean of the per-kind median latencies in ms, weighted by
    each kind's share of the generated call mix. The kinds of a mix
    differ in cost by up to 100x, so a plain median of the mix sits
    between two kinds' clusters and can jump from one to the other from
    run to run; here a change to one kind moves the figure by that
    kind's share of the mix."""
    have = {k: w for k, w in weights.items() if lat[k]}
    return math.exp(sum(w * math.log(median_ms(lat[k])) for k, w in have.items()) / sum(have.values()))


def mixes() -> dict:
    """Per workload: the kind weights of ``p50_ms`` and ``get_p50_ms``."""
    from collections import Counter

    from gen import QUERY_SHAPES, REST_BLOCK

    rest = Counter(("get." if m == "GET" else "write.") + ("item" if is_item else "doc") for m, is_item in REST_BLOCK)
    return {
        "rest_point": (dict(rest), {k: w for k, w in rest.items() if k.startswith("get.")}),
        "collection_query": ({k: 1 for k in QUERY_SHAPES}, {"get.item": 1}),
        # the read-back takes every other written path: items and documents alike
        "stream_ingest": ({"round": 1}, {"get.item": 1, "get.doc": 1}),
    }


def e2e_metrics(name: str, run, spark_start_s: float) -> dict:
    """Every metric the workload measures, name → (value, unit)."""
    lat = run.lat
    gets, writes = lat["get.item"] + lat["get.doc"], lat["write.item"] + lat["write.doc"]
    p50_mix, get_mix = mixes()[name]
    queries = lat["indexed"] + lat["residual"] + lat["inexact"]
    if name == "stream_ingest":
        # rounds are the unit: the window closes when its last round ends
        ops_per_s = run.commands / run.window_s
    else:
        # calls that ended within the window; the writes still queued at
        # the deadline would otherwise stretch it by a variable tail
        ops_per_s = run.in_window / run.window.seconds
    m = {
        "setup_s": (spark_start_s + run.setup_build_s, "s"),
        "ops_per_s": (ops_per_s, "ops/s"),
        "p50_ms": (mix_ms(lat, p50_mix), "ms"),
        "get_p50_ms": (mix_ms(lat, get_mix), "ms"),
        "space_amp": (run.space_amp, "ratio"),
        "failed_frac": (run.failed / max(run.attempted, 1), "ratio"),
    }
    if gets:
        m["get_p95_ms"] = (p(gets, 0.95), "ms")
    if writes:
        m["write_p50_ms"] = (median_ms(writes), "ms")
        m["write_p95_ms"] = (p(writes, 0.95), "ms")
    if queries:
        m["query_p50_ms"] = (median_ms(queries), "ms")
        if name == "collection_query":
            m["query_p95_ms"] = (p(queries, 0.95), "ms")
    if lat["paged"]:
        m["paged_p50_ms"] = (median_ms(lat["paged"]), "ms")
    if lat["aggregate"]:
        m["aggregate_p50_ms"] = (median_ms(lat["aggregate"]), "ms")
    if lat["round"]:
        m["ingest_round_p50_ms"] = (median_ms(lat["round"]), "ms")
        m["feed_read_p50_ms"] = (median_ms(lat["feed_read"]), "ms")
    return m


def layer_metrics(spark, run, tracer) -> tuple[dict, dict]:
    """Per-layer metrics of the traced window. Times and counts are per
    client call (stream_ingest: per round); ratios are as named."""
    from tracer import progress_durations, spark_counters

    calls = max(run.calls, 1)
    t, c = tracer, tracer.counters
    per = lambda v: v / calls  # noqa: E731
    sc = spark_counters(spark, run.window.first_job)
    commits = t.calls("store.storage.commit")
    batches = [b for b in progress_durations(run.extra.get("queries", [])) if b["rows"] > 0]
    m = {
        "calls": (run.calls, "count"),
        "rest.self_ms": (per(t.ms("rest.handle") - t.spans["rest.handle"][2] * 1000.0), "ms/op"),
        "store.documents.get_ms": (per(t.ms("store.documents.get")), "ms/op"),
        "store.documents.write_ms": (per(t.ms("store.documents.write")), "ms/op"),
        "store.documents.ops_per_flip": (run.writes / commits if commits else 0.0, "ratio"),
        "store.documents.feed_read_ms": (per(t.ms("store.documents.feed_read")), "ms/op"),
        "store.storage.bucket_rows_calls": (per(t.calls("store.storage.bucket_rows")), "1/op"),
        "store.storage.bucket_rows_ms": (per(t.ms("store.storage.bucket_rows")), "ms/op"),
        "store.storage.commit_calls": (per(commits), "1/op"),
        "store.storage.commit_ms": (per(t.ms("store.storage.commit")), "ms/op"),
        "store.storage.rows_rewritten_per_write": (
            c["store.storage.rows_committed"] / run.writes if run.writes else 0.0, "ratio"),
        "store.storage.bytes_written_per_user_byte": (
            run.bytes_written / run.user_bytes if run.user_bytes else 0.0, "ratio"),
        "store.storage.cas_conflicts": (per(c["store.storage.commit.raised.ManifestConflict"]), "1/op"),
        "store.query.ms": (per(t.ms("store.query")), "ms/op"),
        "expression.parse_ms": (per(t.ms("expression.parse")), "ms/op"),
        "expression.compile_ms": (per(t.ms("expression.compile")), "ms/op"),
        "plans.weigh_ms": (per(t.ms("plans.weigh")), "ms/op"),
        "store.stats.estimate_ms": (per(t.ms("store.stats.estimate")), "ms/op"),
        "py4j.roundtrips": (per(c["py4j.roundtrips"]), "1/op"),
        "py4j.ms": (per(c["py4j.s"] * 1000.0), "ms/op"),
        "store.rollups.aggregate_ms": (per(t.ms("store.rollups.aggregate")), "ms/op"),
        "store.rollups.refresh_ms": (per(t.ms("store.rollups.refresh")), "ms/op"),
        "store.rollups.refreshes": (
            per(sum(n for mode, n in run.extra.get("refresh_modes", {}).items() if mode not in ("fresh", "stale", None))), "1/op"),
        "streaming.ingest.batches": (per(len(batches)), "1/op"),
        # numInputRows counts every scan of the batch, so commands come from the producer
        "streaming.ingest.commands_per_batch": (run.commands / len(batches) if batches else 0.0, "count"),
        "streaming.ingest.add_batch_ms": (per(sum(b.get("addBatch", 0) for b in batches)), "ms/op"),
        "streaming.ingest.trigger_ms": (per(sum(b.get("triggerExecution", 0) for b in batches)), "ms/op"),
        "streaming.ingest.planning_ms": (per(sum(b.get("queryPlanning", 0) for b in batches)), "ms/op"),
        "streaming.ingest.dead_letters": (per(run.extra.get("dead_letters", 0)), "1/op"),
        "feed.files": (run.extra.get("feed_files", 0), "count"),
    }
    for key, unit in (("spark.jobs", "1/op"), ("spark.stages", "1/op"), ("spark.tasks", "1/op"),
                      ("spark.job_ms", "ms/op"), ("spark.executor_run_ms", "ms/op"),
                      ("spark.shuffle_read_bytes", "B/op"), ("spark.shuffle_write_bytes", "B/op"),
                      ("spark.spill_bytes", "B/op")):
        m[key] = (per(sc["total"].get(key, 0.0)), unit)
    return m, sc["groups"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hyper_storage_spark", "__init__.py")):
        print(f"perfbench: no hyper_storage_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import gen
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    launcher_env(work)
    spark = None
    try:
        from hyper_storage_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark_start_s = time.perf_counter() - T_START
        tracer = None
        if args.trace:
            from tracer import Tracer

            tracer = Tracer()
            tracer.install(spark)
        threads = nproc()
        run = WORKLOADS[args.workload](spark, work, args.seed, args.seconds, tracer, threads)

        named = e2e_metrics(args.workload, run, spark_start_s)
        groups = None
        if args.trace:
            metrics, groups = layer_metrics(spark, run, tracer)
            tracer.uninstall()
        else:
            metrics = {k: named[k] for k in GATED}
        conf = dict(spark.sparkContext.getConf().getAll())
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": nproc(),
            "threads": threads if args.workload == "rest_point" else 1,
            "spark_version": spark.version,
            "spark_conf": {k: v for k, v in sorted(conf.items()) if not k.startswith("spark.app.")},
            "data": {"items": gen.N_ITEMS, "docs": gen.N_DOCS, "round_commands": gen.ROUND_COMMANDS},
            "setup": {"spark_start_s": spark_start_s, "build_s": run.setup_build_s},
            "window_s": run.window_s,
            "calls": run.calls,
            "samples": {k: len(v) for k, v in run.lat.items() if v},
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            "spark_groups": groups,
            "errors": run.errors,
        }
        print(json.dumps({"perfbench": detail}, default=str))
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
