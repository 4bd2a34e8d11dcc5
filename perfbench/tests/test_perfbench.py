"""Tests of the benchmark itself: generator determinism and seed
sensitivity, and that the printed metric names match BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402
from check import tokens  # noqa: E402
from spans import self_times  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _files(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


@pytest.mark.parametrize(
    "make",
    [
        lambda seed, out: gen.llm_tables(seed, out),
        lambda seed, out: gen.llm_tables(seed, out, variant=1, tables=("documents", "embeddings")),
        lambda seed, out: gen.text_corpus(seed, out),
    ],
    ids=["llm", "llm-variant", "corpus"],
)
def test_generator_is_deterministic_and_seed_sensitive(tmp_path, make):
    make(7, tmp_path / "a")
    make(7, tmp_path / "b")
    make(8, tmp_path / "c")
    a, b, c = (_files(tmp_path / d) for d in "abc")
    assert a and a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_refresh_variant_redraws_documents_and_embeddings_only(tmp_path):
    gen.llm_tables(7, tmp_path / "v0")
    gen.llm_tables(7, tmp_path / "v1", variant=1)
    v0, v1 = _files(tmp_path / "v0"), _files(tmp_path / "v1")
    assert v0["events.parquet"] == v1["events.parquet"]
    assert v0["documents.parquet"] != v1["documents.parquet"]
    assert v0["embeddings.parquet"] != v1["embeddings.parquet"]


def _record() -> dict:
    def one_pass(k, kind, traced):
        return {
            "k": k, "kind": kind, "traced": traced, "wall_s": 2.0 + k,
            "jobs": [
                {"name": n, "layer": "operators", "version": 0, "build_s": 0.1 * i,
                 "action_s": 0.2, "error": None, "build_jobs": 1}
                for i, n in enumerate(("dedup_exact", "tfidf_top_terms"))
            ],
            "exec": dict.fromkeys(
                ("jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
                 "shuffle_read_mb", "shuffle_write_mb", "spill_mb"), 1.0),
            "scan_s": 0.3, "pinned_mb": 1.5,
        }

    passes = [one_pass(0, "cold", True)] + [one_pass(k, "warm", k % 2 == 0) for k in range(1, 13)]
    return {"ready_wall": 100.0, "session_start_s": 6.0, "registry_load_s": 0.2,
            "cores": 4, "passes": passes, "checks": {}}


def test_end_to_end_names_match_benchmark_json():
    metrics, info = run.end_to_end(_record(), 92.0)
    assert list(metrics) == [m["name"] for m in BENCH["end_to_end"]]
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == {k: u for k, (_, u) in metrics.items()}
    assert metrics["setup_s"][0] == 8.0
    assert all(v > 0 for v, _ in metrics.values())
    # 12 job samples: the tail is the 2nd value, with 10 beyond it
    assert info["job_samples"] == 12 and metrics["job_s.tail"][0] == pytest.approx(0.2)


def test_per_layer_names_match_benchmark_json():
    metrics = run.per_layer(_record(), [], 3, 1234.0)
    assert [m["name"] for m in BENCH["per_layer"]] == list(metrics)
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == {k: u for k, (_, u) in metrics.items()}


def test_self_time_subtracts_direct_children():
    spans = [
        {"id": 1, "name": "pass", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "job", "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "name": "build", "parent": 2, "start": 1.0, "end": 2.0},
        {"id": 4, "name": "job", "parent": 1, "start": 5.0, "end": 9.0},
    ]
    assert self_times(spans) == {"pass": 3.0, "job": 6.0, "build": 1.0}


def test_reference_tokenizer():
    assert tokens("Hello, world-42 (x)\nHELLO") == ["hello", "world", "x", "hello"]
