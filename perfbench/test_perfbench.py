"""Tests of the benchmark itself (not of the package).

    python3 -m pytest perfbench/test_perfbench.py -q

The generator and shadow-model tests are pure Python and fast. The
predicted-pattern test starts Spark three times (two to four minutes on
a 4-core box) and is skipped when pyspark is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from model import Model, check_feed, merge_patch  # noqa: E402


def test_same_seed_gives_byte_identical_inputs():
    assert gen.fingerprint(7) == gen.fingerprint(7)
    assert gen.fingerprint(7) != gen.fingerprint(8)
    # a fresh interpreter with another hash seed produces the same bytes
    code = f"import sys; sys.path.insert(0, {HERE!r}); import gen; print(gen.fingerprint(7))"
    env = {**os.environ, "PYTHONHASHSEED": "12345"}
    out = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True)
    assert out.stdout.strip() == gen.fingerprint(7)


def test_generated_mix_and_rounds():
    ops = gen.rest_ops(3, n=20_000)
    share = {m: sum(1 for o in ops if o[0] == m) / len(ops) for m in ("GET", "PUT", "PATCH")}
    assert abs(share["GET"] - 0.80) < 0.02 and abs(share["PUT"] - 0.12) < 0.02 and abs(share["PATCH"] - 0.08) < 0.02
    rounds = gen.CommandRounds(3)
    for _ in range(4):
        cmds = rounds.next_round()
        assert len(cmds) == gen.ROUND_COMMANDS
        assert sum(1 for c in cmds if c.get("malformed")) == gen.ROUND_MALFORMED
    seqs = [c["seq"] for c in cmds]
    assert seqs == sorted(seqs)


def test_merge_patch_is_the_stores_shallow_merge():
    # the store's PATCH: top-level members of the patch replace the
    # existing ones, then nulls are stripped from objects (not lists)
    cases = [
        ({"a": "b"}, {"a": "c"}, {"a": "c"}),
        ({"a": "b"}, {"b": "c"}, {"a": "b", "b": "c"}),
        ({"a": "b"}, {"a": None}, {}),
        ({"a": "b", "b": "c"}, {"a": None}, {"b": "c"}),
        ({"a": {"b": "c", "d": 1}}, {"a": {"b": "d", "c": None}}, {"a": {"b": "d"}}),
        ({"a": [{"b": "c"}]}, {"a": [1]}, {"a": [1]}),
        ({"e": None}, {"a": 1}, {"a": 1}),
        ({"a": [None, {"b": None}]}, {"c": 1}, {"a": [None, {"b": None}], "c": 1}),
        ([1, 2], {"a": "b", "c": None}, {"a": "b"}),
        ({"a": 1}, [1, None], [1, None]),
        ({}, {"a": {"bb": {"ccc": None}}}, {"a": {"bb": {}}}),
    ]
    for target, patch, want in cases:
        assert merge_patch(target, patch) == want


def test_model_queries_and_feed_check():
    data = gen.dataset(1)
    m = Model(data)
    call = {"shape": "indexed", "lo": 900, "sort": "score"}
    want = m.expected_query(call)
    assert len(want) == gen.PAGE_SIZE and all(b["score"] > 900 for b in want)
    assert m.check_query(call, 200, {"_embedded": {"els": want}}) == []
    assert m.check_query(call, 200, {"_embedded": {"els": want[1:]}}) != []
    writes = [("d0001", 2, "", "put"), ("d0001", 3, "", "patch")]
    events = [{"document_uri": "d0001", "revision": r, "item_id": "", "method": f"feed:{m_}"} for _, r, _, m_ in writes]
    assert check_feed(events, writes, {"d0001": 1}) == []
    assert check_feed(events[:1], writes, {"d0001": 1}) != []
    assert check_feed(events, writes[:1] + [("d0001", 4, "", "patch")], {"d0001": 1}) != []


def test_exits_nonzero_without_the_package():
    bare = os.path.join(ROOT, ".perfbench_work", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "rest_point", "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=120,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0 and p.stdout == ""


def _traced(workload: str, seconds: int = 6) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5", "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = [m["name"] for m in json.load(fh)["per_layer"]]
    assert sorted(result["metrics"]) == sorted(names)
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.skipif(shutil.which("java") is None and not os.environ.get("JAVA_HOME"), reason="needs a JVM")
def test_traced_runs_show_the_predicted_pattern():
    pytest.importorskip("pyspark")
    rp = _traced("rest_point")
    assert rp["spark.jobs"] == 0 and rp["spark.tasks"] == 0
    for k in ("rest.self_ms", "store.documents.get_ms", "store.documents.write_ms", "store.documents.ops_per_flip",
              "store.storage.bucket_rows_calls", "store.storage.commit_calls", "store.storage.commit_ms",
              "store.storage.rows_rewritten_per_write", "store.storage.bytes_written_per_user_byte"):
        assert rp[k] > 0, k
    assert rp["store.query.ms"] == 0 and rp["streaming.ingest.batches"] == 0

    # long enough for the rotation to reach its _aggregate on a slow box
    cq = _traced("collection_query", seconds=20)
    assert cq["store.rollups.aggregate_ms"] > 0
    assert cq["store.storage.commit_calls"] == 0 and cq["store.rollups.refreshes"] == 0
    assert cq["store.documents.write_ms"] == 0 and cq["streaming.ingest.batches"] == 0
    for k in ("store.query.ms", "expression.parse_ms", "expression.compile_ms", "plans.weigh_ms",
              "store.stats.estimate_ms", "py4j.roundtrips", "py4j.ms", "spark.jobs", "spark.stages",
              "spark.tasks", "spark.job_ms", "spark.executor_run_ms", "store.rollups.aggregate_ms",
              "store.documents.get_ms"):
        assert cq[k] > 0, k

    si = _traced("stream_ingest")
    # per-round values: one refresh and ROUND_MALFORMED dead letters per round
    assert si["store.rollups.refreshes"] == 1
    assert si["streaming.ingest.dead_letters"] == gen.ROUND_MALFORMED
    for k in ("streaming.ingest.batches", "streaming.ingest.commands_per_batch", "streaming.ingest.add_batch_ms",
              "streaming.ingest.trigger_ms", "store.rollups.refresh_ms", "store.documents.feed_read_ms",
              "feed.files", "store.storage.commit_calls", "spark.shuffle_write_bytes", "store.query.ms"):
        assert si[k] > 0, k
    # collection_query is not in BENCHMARK.json: the query layers must show
    # on a workload that is
    for k in ("expression.parse_ms", "expression.compile_ms", "plans.weigh_ms", "store.stats.estimate_ms",
              "py4j.roundtrips", "spark.jobs", "spark.tasks", "store.rollups.aggregate_ms"):
        assert si[k] > 0, k
