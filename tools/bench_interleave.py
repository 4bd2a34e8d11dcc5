#!/usr/bin/env python
"""Interleaved cross-revision benchmark — the variance-proof trend tool.

Single-session BENCH_r{N}.json captures carry ±10-15% session noise on
a ~15 s headline (measured round 10: same-tree totals spread 14.4-18.0 s
across one session, calibration flat), so a cross-ROUND ratio of two
single captures can read 1.2x with zero code change. This tool removes
the session variable: it checks out each revision into a git worktree
and runs `bench.py --headline-only` ALTERNATING revision per run, N
rounds, on one box in one session — every revision sees the same cache
state, load, and thermal conditions — then reports min-of-N per query
per revision. BENCH_INTERLEAVE_r10.json (r8/r9/r10: 14.21/14.64/14.70 s
where the committed artifacts said 13.39/15.93) is the worked example.

    python tools/bench_interleave.py REV [REV...] [--runs 3] [--out F]
    python tools/bench_interleave.py --round N   # canonical per-round capture

The working tree itself is always included as revision "worktree".
Worktrees are created under /tmp and removed afterwards.

``--round N`` is the round-11 canonical mode (verdict ask #1): it
resolves the LAST ROUND-BOUNDARY COMMIT (the driver's "round N: ..."
commit) as the comparison base, interleaves it against the working
tree, and writes ``BENCH_INTERLEAVE_r{N}.json`` with ``prev`` /
``head`` min-of-N per query and the same-session ``ratio`` — the
number round-over-round perf judgments should read. ``bench.py``
embeds this artifact into its stdout line, so the driver-recorded
``BENCH_r{N}.json`` carries the interleaved headline by construction,
and ``tools/bench_trend.py`` reads it first.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def bench_once(tree: Path) -> dict:
    p = subprocess.run(
        [sys.executable, "bench.py", "--headline-only"],
        cwd=tree,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"no bench output from {tree}: {p.stderr[-500:]}")
    return json.loads(lines[-1])


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", str(REPO), *args], capture_output=True, text=True
    ).stdout.strip()


def last_round_boundary() -> str:
    """Hash of the last driver round-boundary commit. Anchored to the
    VERDICT subject: the harness's own "round N: end-of-round
    snapshot" commits would otherwise become the comparison base
    (round-12 verdict ask #1)."""
    return _git("log", "-n1", "--format=%H", "-E", "--grep=^round [0-9]+: verdict")


def merge_ratio_history(out_path: Path | None, ratio: float | None) -> list[float]:
    """Prior captures' ratios from an existing artifact at ``out_path``
    plus this capture's, oldest first. A pre-band artifact contributes
    its single ``ratio``; an unreadable one contributes nothing."""
    hist: list[float] = []
    if out_path is not None and out_path.exists():
        try:
            prior = json.loads(out_path.read_text())
            hist = list(prior.get("ratio_history") or [])
            if not hist and prior.get("ratio") is not None:
                hist = [prior["ratio"]]
        except (OSError, ValueError):
            pass
    if ratio is not None:
        hist.append(ratio)
    return hist


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("revs", nargs="*", help="git revisions to compare")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=None, help="write the result JSON here")
    ap.add_argument(
        "--round",
        type=int,
        default=None,
        help="canonical per-round mode: interleave the last round-boundary "
        "commit vs the working tree and write BENCH_INTERLEAVE_r{N}.json",
    )
    args = ap.parse_args()

    prev_rev = None
    if args.round is not None:
        if args.revs:
            raise SystemExit("--round resolves its own base revision; drop REVs")
        prev_rev = last_round_boundary()
        if not prev_rev:
            raise SystemExit("no 'round N:' boundary commit found")
        args.revs = [prev_rev]
        if not args.out:
            args.out = str(REPO / f"BENCH_INTERLEAVE_r{args.round:02d}.json")
    elif not args.revs:
        raise SystemExit("pass revisions to compare, or --round N")

    trees: dict[str, Path] = {"worktree": REPO}
    made: list[Path] = []
    tmp = Path(tempfile.mkdtemp(prefix="bench_ilv_"))
    try:
        for rev in args.revs:
            short = subprocess.run(
                ["git", "rev-parse", "--short", rev],
                cwd=REPO, capture_output=True, text=True, check=True,
            ).stdout.strip()
            dst = tmp / short
            subprocess.run(
                ["git", "worktree", "add", str(dst), rev],
                cwd=REPO, check=True, capture_output=True,
            )
            trees[f"{rev}@{short}"] = dst
            made.append(dst)

        captures: dict[str, list[dict]] = {k: [] for k in trees}
        for i in range(args.runs):
            for name, tree in trees.items():
                doc = bench_once(tree)
                captures[name].append(doc)
                print(
                    f"run {i + 1}/{args.runs} {name}: total {doc['value']} "
                    f"cal {doc['calibration_sec']}",
                    flush=True,
                )

        out = {"method": "interleaved min-of-N, one box, one session"}
        for name, docs in captures.items():
            qmins: dict[str, float] = {}
            for d in docs:
                for q, s in d["queries"].items():
                    qmins[q] = min(qmins.get(q, float("inf")), s)
            out[name] = {
                "queries": qmins,
                "total_min": round(sum(qmins.values()), 3),
                "totals": [d["value"] for d in docs],
                "cal": [c for d in docs for c in d["calibration_sec"]],
            }
            print(f"{name}: min-sum {out[name]['total_min']}  totals {out[name]['totals']}")
        if args.round is not None:
            # canonical fields: prev (round boundary) vs head (working
            # tree), same-session ratio, and the HEAD commit at capture
            # time so bench.py can flag a stale embed
            prev_key = next(k for k in out if k.startswith(f"{prev_rev}@"))
            head, prev = out["worktree"], out[prev_key]
            out.update(
                {
                    "round": args.round,
                    "prev_rev": prev_rev,
                    "head_commit": _git("rev-parse", "HEAD"),
                    "runs": args.runs,
                    "prev": prev,
                    "head": head,
                    "ratio": round(head["total_min"] / prev["total_min"], 3)
                    if prev["total_min"]
                    else None,
                }
            )
            # Repeat captures within a round accumulate a ratio history
            # and its spread (the method's residual — ±3% measured over
            # three same-tree round-11 captures), so a single ratio is
            # never over-read as signal. Recapturing OVERWRITES the
            # per-query fields with the newest session but preserves
            # every prior ratio in the band.
            out["ratio_history"] = merge_ratio_history(
                Path(args.out) if args.out else None, out["ratio"]
            )
            if len(out["ratio_history"]) > 1:
                out["residual_band"] = [
                    min(out["ratio_history"]), max(out["ratio_history"])
                ]
            print(
                f"round {args.round}: head/prev = {out['ratio']}x "
                f"({head['total_min']} vs {prev['total_min']} s, "
                f"min-of-{args.runs} interleaved; "
                f"history {out['ratio_history']})"
            )
        if args.out:
            Path(args.out).write_text(json.dumps(out, indent=1))
    finally:
        for dst in made:
            subprocess.run(
                ["git", "worktree", "remove", "--force", str(dst)],
                cwd=REPO, capture_output=True,
            )


if __name__ == "__main__":
    main()
