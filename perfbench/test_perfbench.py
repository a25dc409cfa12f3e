"""The benchmark's own tests: generator determinism, the answer checks'
self-test (every read class, and whole runs with corrupted answers), a
tiny-scale smoke run of every workload, and the exit path for a
directory without the package.

    python3 -m pytest perfbench -q

The smoke runs start Spark (about a minute each on 4 cores)."""

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

from gen import Corpus, make_documents  # noqa: E402
from harness import Checker  # noqa: E402
from workloads import CYCLE_SET, ReadInputs, _read_check, _read_params  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(*args: str, cwd: str = ROOT) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_generators_are_seeded():
    a, b, c = Corpus(5, 40), Corpus(5, 40), Corpus(6, 40)
    assert {k: e.as_json() for k, e in a.entities.items()} == {
        k: e.as_json() for k, e in b.entities.items()}
    assert a.exact_groups == b.exact_groups and a.exact_groups
    assert a.upsert_batch() == b.upsert_batch()
    assert a.live_statements() == b.live_statements()
    assert {e.as_json()["properties"].get("name", [""])[0] for e in a.entities.values()} != {
        e.as_json()["properties"].get("name", [""])[0] for e in c.entities.values()}
    assert make_documents(5, 80) == make_documents(5, 80)
    assert make_documents(5, 80).rows != make_documents(6, 80).rows


def test_upsert_adds_values_to_the_reference():
    c = Corpus(7, 40)
    before = c.live_statements()
    rows, seen = c.upsert_batch()
    assert rows and seen > "2024-01-01"
    assert c.live_statements() >= before
    for r in rows:
        for prop, values in r["properties"].items():
            assert set(values) <= c.entities[r["id"]].props[prop]


def test_checker_counts_wrong_answers():
    ck = Checker()
    ck.expect("same", {"a": [1]}, {"a": [1]})
    ck.expect("different", [1, 2], [2, 1])
    ck.error("raised", RuntimeError("boom"))
    assert (ck.attempted, ck.failed) == (3, 2)

    corrupt = Checker(corrupt=True)
    for value in (3, 2.5, "x", [1], {1}, {"k": 1}, None, True):
        assert not corrupt.expect("v", value, value)
    assert corrupt.failed == corrupt.attempted == 8


def _engine_shaped(c: Corpus, params: tuple):
    """The reference answer in the shape the engine returns it."""
    cls = params[0]
    if cls == "get_entity":
        return c.entity(params[1])
    if cls == "get_adjacent":
        return c.adjacent(params[1])
    if cls == "get_inverted":
        return c.inverted(params[1])
    if cls == "entities":
        return [c.entity(i) for i in c.top_payments(params[1], params[2])]
    if cls == "search":
        return c.search(params[1], "Company", params[2])
    if cls == "aggregations":
        total, per = c.payment_sums(params[1])
        return {"sum": {"amountEur": total},
                "groups": {params[1]: {"sum": {"amountEur": per}}}}
    return c.stats()


def test_every_read_check_fails_a_corrupted_answer(tmp_path):
    import random

    inp = ReadInputs(str(tmp_path), 3, 40)
    rng = random.Random(1)
    for cls in sorted(CYCLE_SET):
        for _ in range(3):
            params = _read_params(inp, cls, rng)
            right = _engine_shaped(inp.corpus, params)
            honest, corrupt = Checker(), Checker(corrupt=True)
            _read_check(honest, inp.corpus, params, right)
            _read_check(corrupt, inp.corpus, params, right)
            assert honest.failed == 0, (params, honest.errors)
            assert corrupt.failed == corrupt.attempted == 1, params


def _failed_classes(stdout: str) -> set[str]:
    return {line.split()[0][len("failed."):] for line in stdout.splitlines()
            if line.startswith("failed.")}


@pytest.mark.parametrize("workload", ["etl", "serve"])
def test_workload_smoke(workload):
    code, out = _run("--workload", workload, "--seed", "3", "--seconds", "1",
                     "--trace", "0", "--scale", "tiny")
    assert code == 0, out
    res = _result(out)
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in _spec()["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload, layer_metric", [
    ("etl", "blocking.candidate_pairs"), ("serve", "view.get_entity_p50_s"),
])
def test_traced_run_reports_every_layer_metric(workload, layer_metric):
    code, out = _run("--workload", workload, "--seed", "4", "--seconds", "2",
                     "--trace", "1", "--scale", "tiny")
    assert code == 0, out
    res = _result(out)
    assert res["correct"] is True
    assert set(res["metrics"]) == {m["name"] for m in _spec()["per_layer"]}
    assert res["metrics"]["spark.jobs"]["value"] > 0
    assert res["metrics"][layer_metric]["value"] > 0


@pytest.mark.parametrize("workload, seconds, classes", [
    ("etl", "1", {"etl.live_statements", "etl.exact_group", "pipeline.exact_group",
                  "pipeline.split_labels", "pipeline.short_dropped",
                  "pipeline.unique_unchanged"}),
    # long enough for one client alone to walk the whole class cycle
    ("serve", "15", {f"read.{c}" for c in CYCLE_SET}),
])
def test_corrupted_answers_count_as_failed(workload, seconds, classes):
    code, out = _run("--workload", workload, "--seed", "3", "--seconds", seconds,
                     "--trace", "0", "--scale", "tiny", "--corrupt")
    assert code == 0, out
    res = _result(out)
    assert res["correct"] is False
    assert res["failed"] == res["attempted"] >= len(classes)
    assert _failed_classes(out) == classes


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
