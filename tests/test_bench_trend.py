"""Pure-function coverage for the bench adjudication tooling."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from bench_trend import _movers, load_ratio_of  # noqa: E402


def test_load_ratio_uses_worst_probe():
    """An oversubscribed box can leave one spare core (single-thread
    probe flat) while the 8-thread probe inflates — the ratio must
    take the worst of the two fields."""
    old = {"calibration_sec": [0.18, 0.18], "calibration_mt_sec": [0.20, 0.20]}
    new = {"calibration_sec": [0.19, 0.18], "calibration_mt_sec": [0.80, 0.75]}
    assert load_ratio_of(old, new) == 4.0  # 0.80 / 0.20


def test_load_ratio_none_for_pre_round7_artifacts():
    assert load_ratio_of({}, {"calibration_sec": [0.2, 0.2]}) is None
    assert load_ratio_of({"calibration_sec": [0.2, 0.2]}, {}) is None


def test_movers_ignore_sub_threshold_and_tiny_baselines():
    old = {"a": 1.0, "b": 0.05, "c": 2.0, "d": 1.0}
    new = {"a": 1.4, "b": 0.50, "c": 0.9, "d": 2.1}
    out = {m["query"]: m["ratio"] for m in _movers(old, new, 1.5)}
    # a: 1.4x < threshold; b: 10x but over a 50ms baseline (timer noise)
    assert out == {"d": 2.1, "c": 0.45}


def _ilv_doc(round_n=11, head_commit="h" * 40):
    return {
        "method": "interleaved min-of-N, one box, one session",
        "round": round_n,
        "prev_rev": "p" * 40,
        "head_commit": head_commit,
        "runs": 3,
        "prev": {"queries": {"q1": 1.0, "q2": 2.0}, "total_min": 3.0},
        "head": {"queries": {"q1": 1.1, "q2": 1.9}, "total_min": 3.0},
        "ratio": 1.0,
    }


def test_bench_embeds_newest_round_format_interleave(tmp_path):
    """bench.py must embed the NEWEST round-format interleave artifact
    (skipping pre-round-11 ad-hoc captures without a ratio) and flag a
    capture whose head_commit is not the current HEAD as stale."""
    import json

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from bench import _interleaved_field

    # ad-hoc r10-format artifact (no ratio) must be skipped
    (tmp_path / "BENCH_INTERLEAVE_r10.json").write_text(json.dumps({"worktree": {}}))
    assert _interleaved_field(tmp_path) is None
    (tmp_path / "BENCH_INTERLEAVE_r11.json").write_text(json.dumps(_ilv_doc()))
    got = _interleaved_field(tmp_path)
    assert got["file"] == "BENCH_INTERLEAVE_r11.json"
    assert got["ratio"] == 1.0 and got["round"] == 11
    # this tmp artifact's fake head_commit cannot match the repo HEAD —
    # and the fake commit isn't a real object, so the source-drift diff
    # stays None rather than inventing a path list
    assert got["at_current_head"] is False
    assert got["stale_source_paths"] is None


def test_bench_embed_is_compact(tmp_path):
    """Round-11 regression: the embed carried both full per-query dicts
    and pushed the stdout headline past the driver's 2000-char tail
    capture (BENCH_r11.json `parsed: null`). The embed must never carry
    per-query dicts — consumers load them from the named artifact file —
    and must pass the residual band through when the artifact has one."""
    import json

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from bench import _interleaved_field

    doc = _ilv_doc()
    doc["residual_band"] = [0.965, 1.031]
    (tmp_path / "BENCH_INTERLEAVE_r11.json").write_text(json.dumps(doc))
    got = _interleaved_field(tmp_path)
    assert "prev_queries" not in got and "head_queries" not in got
    assert got["residual_band"] == [0.965, 1.031]
    # a pathological capture trailing 100 changed paths must stay bounded
    assert len(json.dumps(got)) < 700


def test_headline_stdout_fits_driver_tail_capture():
    """Driver-artifact contract (round-11 verdict asks #1/#2): run the
    real headline emission path (`bench.py --smoke` — zero timings, no
    Spark, REAL interleave embed against the repo's committed
    artifacts), simulate the driver's capture (last 2000 chars of
    stdout), and assert the headline JSON is recoverable from the tail
    alone. Fails on any future stdout bloat — the failure mode that
    blinded BENCH_r02 and BENCH_r11."""
    import json
    import subprocess

    repo = Path(__file__).resolve().parent.parent
    proc = subprocess.run(
        [sys.executable, str(repo / "bench.py"), "--smoke"],
        capture_output=True, text=True, timeout=120, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-500:]
    tail = proc.stdout[-2000:]  # the driver's window
    lines = [l for l in tail.splitlines() if l.startswith("{")]
    assert lines, f"no complete JSON line inside the tail: {tail[:200]!r}"
    parsed = json.loads(lines[-1])
    assert parsed["metric"] == "headline_total_sec"
    assert set(parsed["queries"])  # per-query timings survived
    # margin pin: the line itself stays under budget so real (longer)
    # timing strings cannot push a future capture over the window
    full_line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    from bench import STDOUT_LINE_BUDGET

    assert len(full_line) < STDOUT_LINE_BUDGET, len(full_line)
    # the canonical ratio must be INSIDE the driver-visible object
    # whenever a round-format interleave artifact exists in the repo
    if list(repo.glob("BENCH_INTERLEAVE_r1[1-9].json")):
        assert parsed["interleaved"]["ratio"] is not None


def test_emit_headline_degrades_instead_of_overflowing(capsys, monkeypatch):
    """Backstop: if a future field bloats the doc past the budget, the
    emitter drops diagnostics (interleave detail, cpu_profile, runs) in
    order and still prints one parseable line with `queries` intact."""
    import json

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import bench

    big_ilv = {
        "file": "BENCH_INTERLEAVE_r99.json", "ratio": 1.0, "runs": 3,
        "prev_total_min": 1.0, "head_total_min": 1.0,
        "at_current_head": True,
        "bloat": "x" * 5000,  # a future field gone wrong
    }
    monkeypatch.setattr(bench, "_interleaved_field", lambda root=None: big_ilv)
    timings = {f"q{i}": 1.0 for i in range(18)}
    runs = {f"q{i}": [1.0, 1.0] for i in range(18)}
    bench._emit_headline(timings, runs, [0.2, 0.2], [0.2, 0.2], None, "sf0.1")
    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    assert len(line) <= bench.STDOUT_LINE_BUDGET
    doc = json.loads(line)
    assert doc["queries"] == timings
    assert "bloat" not in json.dumps(doc.get("interleaved"))


def test_merge_ratio_history_accumulates_band():
    """Repeat same-round captures accumulate ratio_history so the
    residual band is recorded in the artifact, not just in notes."""
    import json
    import tempfile

    from bench_interleave import merge_ratio_history

    with tempfile.TemporaryDirectory() as d:
        p = Path(d) / "BENCH_INTERLEAVE_r12.json"
        assert merge_ratio_history(p, 0.99) == [0.99]  # no prior file
        p.write_text(json.dumps({"ratio": 0.99}))  # pre-band artifact
        assert merge_ratio_history(p, 1.02) == [0.99, 1.02]
        p.write_text(json.dumps({"ratio": 1.02, "ratio_history": [0.99, 1.02]}))
        assert merge_ratio_history(p, 0.97) == [0.99, 1.02, 0.97]


def test_interleave_round_mode_resolves_last_boundary():
    """--round compares against the last round-boundary commit.
    Skips on a fresh clone without that history."""
    import subprocess

    import pytest

    from bench_interleave import last_round_boundary

    rev = last_round_boundary()
    if not rev:
        pytest.skip("no round-boundary commit in this checkout (fresh clone)")
    repo = Path(__file__).resolve().parent.parent
    subject = subprocess.run(
        ["git", "-C", str(repo), "log", "-n1", "--format=%s", rev],
        capture_output=True, text=True,
    ).stdout.strip()
    assert subject.startswith("round ") and ":" in subject


def test_trend_reads_interleaved_field_first(tmp_path):
    """With an embedded interleave, bench_trend's canonical headline is
    the same-session ratio; the single-session comparison is marked
    secondary. Exercised through the CLI (the adjudication path the
    round workflow runs)."""
    import json
    import subprocess

    repo = Path(__file__).resolve().parent.parent
    old = {"value": 10.0, "queries": {"q1": 5.0, "q2": 5.0}}
    new = {
        "value": 14.0,  # noisy single-session 1.4x...
        "queries": {"q1": 7.0, "q2": 7.0},
        "interleaved": {  # ...but interleaved says 1.0x (compact embed:
            "file": "BENCH_INTERLEAVE_r11.json",  # per-query dicts live
            "ratio": 1.0,                         # in this artifact)
            "runs": 3,
            "prev_total_min": 3.0,
            "head_total_min": 3.0,
            "prev_rev": "p" * 12,
            "head_commit": "h" * 12,
            "at_current_head": True,
        },
    }
    po, pn = tmp_path / "OLD.json", tmp_path / "NEW.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    # the named interleave artifact sits next to the bench artifact —
    # bench_trend must source the per-query mover dicts from it
    (tmp_path / "BENCH_INTERLEAVE_r11.json").write_text(json.dumps(_ilv_doc()))
    proc = subprocess.run(
        [sys.executable, str(repo / "tools" / "bench_trend.py"), str(po), str(pn)],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-500:]
    assert "INTERLEAVED (canonical)" in proc.stderr
    assert "no movers over threshold" in proc.stderr
    assert "SECONDARY" in proc.stderr
    out = json.loads(proc.stdout)
    assert out["headline"]["interleaved"]["ratio"] == 1.0
