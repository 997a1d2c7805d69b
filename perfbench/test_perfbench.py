"""Tests of the benchmark itself: seeded generators, the metric list in
BENCHMARK.json, and a tiny end-to-end run of each workload.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(ROOT))

import gen  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402
from neo4j_export_tool_spark.sources import synth  # noqa: E402


def _rows_digest(rows) -> str:
    digest = hashlib.sha256()
    for row in rows:
        digest.update(repr(row).encode())
    return digest.hexdigest()


def test_wide_inputs_are_a_function_of_the_seed():
    gaz = gen.wide_gazetteer(300, seed=7)
    assert gaz == gen.wide_gazetteer(300, seed=7)
    assert gaz != gen.wide_gazetteer(300, seed=8)
    rows, oracle = gen.wide_rows(150, 7, gaz)
    rows2, oracle2 = gen.wide_rows(150, 7, gaz)
    assert _rows_digest(rows) == _rows_digest(rows2) and oracle == oracle2
    assert _rows_digest(rows) != _rows_digest(gen.wide_rows(150, 8, gaz)[0])


def test_wide_gazetteer_resolves_collisions_to_one_owner():
    gaz = gen.wide_gazetteer(2000, seed=1)
    canonicals = {canon for _, canon in gaz.values()}
    assert len(canonicals) == 2000
    # every canonical name is a surface of its own entity, never an alias
    # taken over by another one
    for surface, (label, canon) in gaz.items():
        assert gaz[canon] == (label, canon), surface
    assert 3500 <= len(gaz) <= 4000


def test_wide_oracle_sentences_are_in_the_text():
    gaz = gen.wide_gazetteer(200, seed=3)
    rows, oracle = gen.wide_rows(100, 3, gaz)
    text = {url: body for url, _, _, body, _ in rows}
    templates = {pred: tmpl for pred, _, _, tmpl in synth.RELATION_TEMPLATES}
    for url, s, pred, o in oracle:
        assert templates[pred].format(s=s, o=o) in text[url]


def test_narrow_oracle_replays_the_library_generator():
    templates = {pred: tmpl for pred, _, _, tmpl in synth.RELATION_TEMPLATES}
    oracle = gen.narrow_oracle(200, seed=5)
    texts = {}
    for doc_id in range(200):
        url, _, _, text, _ = synth._generate_one(doc_id, 5)
        texts[url] = text
    per_doc: dict[str, int] = {}
    for url, s, pred, o in oracle:
        assert templates[pred].format(s=s, o=o) in texts[url]
        per_doc[url] = per_doc.get(url, 0) + 1
    # every page plants at least one relation sentence
    assert set(per_doc) == set(texts)


def test_benchmark_json_matches_the_metrics_emitted():
    assert tuple(harness.WORKLOADS) == run.WORKLOADS
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(harness.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == (
        harness.per_layer_units()
    )


def test_tail_percentile_needs_ten_samples_above():
    assert harness.tail_percentile(list(range(19))) is None
    p, value = harness.tail_percentile([float(x) for x in range(100)])
    assert p == 90 and 88 <= value <= 91


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "narrow_cold",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert out.stdout == ""


@pytest.mark.parametrize("workload,trace", [
    ("narrow_cold", 0), ("narrow_cold", 1), ("wide_cold", 1),
])
def test_smoke_run_prints_every_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "2",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    info = json.loads(lines[-2])["perfbench"]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, info["errors"]
    expected = harness.per_layer_units() if trace else harness.END_TO_END
    assert set(result["metrics"]) == set(expected)
    assert info["triple_pr"]["precision"] >= harness.MIN_PR
    assert info["triple_pr"]["recall"] >= harness.MIN_PR
    if trace:
        assert result["metrics"]["canonicalize.cc.rounds"]["value"] >= 1
