"""Output checks, run once per distinct (job, input) pair outside the
timed passes.

* Registered queries: the strict DuckDB compare (row count, sorted
  column names, exact multiset of values with columns sorted by name).
* ``run_mapred``: a pure-Python implementation of the reference
  tokenizer (lower-case, every non-alphabetic character becomes a
  space, split on whitespace).
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os
import pickle
from collections import Counter
from pathlib import Path
from urllib.parse import urlparse

import numpy as np
import pandas as pd


def _norm_val(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.floating):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, np.ndarray):
        return tuple(_norm_val(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_norm_val(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_val(x)) for k, x in v.items()))
    return v


def normalize(df: pd.DataFrame) -> tuple[list[str], list[str]]:
    cols = sorted(df.columns)
    rows = [
        repr(tuple(_norm_val(v) for v in t))
        for t in df[cols].itertuples(index=False, name=None)
    ]
    rows.sort()
    return cols, rows


class Oracle:
    """DuckDB views over one input directory; oracle answers are cached
    on disk next to the generated inputs, keyed by query name."""

    def __init__(self, data_dir: Path, cache_dir: Path):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self._con = None

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        for p in sorted(self.data_dir.glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
        return con

    def answer(self, name: str, sql: str) -> tuple[list[str], list[str]]:
        path = self.cache_dir / f"{name}.pkl"
        if path.exists():
            with open(path, "rb") as fh:
                return pickle.load(fh)
        if self._con is None:
            self._con = self._connect()
        ans = normalize(self._con.execute(sql).fetchdf())
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        with open(tmp, "wb") as fh:
            pickle.dump(ans, fh)
        os.replace(tmp, path)
        return ans

    def compare(self, name: str, sql: str, got: pd.DataFrame) -> str | None:
        dcols, drows = self.answer(name, sql)
        scols, srows = normalize(got)
        if scols != dcols:
            return f"schema spark={scols} duckdb={dcols}"
        if len(srows) != len(drows):
            return f"rowcount spark={len(srows)} duckdb={len(drows)}"
        diffs = [(a, b) for a, b in zip(srows, drows) if a != b]
        if diffs:
            return f"{len(diffs)} differing rows; first: {diffs[0]}"
        return None

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def tokens(text: str) -> list[str]:
    return "".join(c if c.isalpha() else " " for c in text.lower()).split()


def expected_wordcount(texts: dict[str, str]) -> dict[str, int]:
    counts: Counter = Counter()
    for text in texts.values():
        counts.update(tokens(text))
    return dict(counts)


def expected_inverted_index(texts: dict[str, str]) -> dict[str, dict[str, int]]:
    out: dict[str, dict[str, int]] = {}
    for fname, text in texts.items():
        for word, n in Counter(tokens(text)).items():
            out.setdefault(word, {})[fname] = n
    return out


def basename_postings(payload: dict[str, dict[str, int]]) -> dict[str, dict[str, int]]:
    """The engine names directory and file documents by their URI; the
    reference keys them by file name."""
    return {
        w: {os.path.basename(urlparse(f).path) or f: n for f, n in post.items()}
        for w, post in payload.items()
    }


def compare_json(got: str, want: dict, postings: bool = False) -> str | None:
    payload = json.loads(got)
    if postings:
        payload = basename_postings(payload)
    if payload == want:
        return None
    missing = sorted(set(want) - set(payload))[:3]
    extra = sorted(set(payload) - set(want))[:3]
    wrong = sorted(k for k in set(want) & set(payload) if want[k] != payload[k])[:3]
    return f"mapred mismatch: missing={missing} extra={extra} wrong={wrong}"
