"""Strict oracle gate over the whole catalog.

Runs ``tools/check_oracles.py`` at sf0.001: every registered query on
Spark against its DuckDB oracle, exact multiset compare. The child's
cwd is outside the checkout, so Python workers cannot import the
package from their cwd: anything cloudpickled to them by reference
(module-level classes, UDF helpers) fails here as it would for a
consumer outside the checkout.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_every_query_matches_its_oracle(tmp_path, sf_dir):
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "check_oracles.py"), "--sf-dir", sf_dir],
        capture_output=True,
        text=True,
        timeout=1500,
        cwd=tmp_path,
    )
    fails = [line for line in out.stdout.splitlines() if line.startswith("FAIL")]
    assert out.returncode == 0, (fails, out.stderr[-3000:])
    assert "288 pass, 0 fail, 0 rows-only" in out.stdout, out.stdout[-3000:]
