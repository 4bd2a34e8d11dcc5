"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and writes plain files: the
engine only ever sees the generated inputs. The same seed gives the
same bytes and a different seed different bytes.

* ``llm_tables`` writes the three tables the LLM-pipeline operators
  read (``documents``, ``embeddings``, ``events``) with the fixture
  schemas documented in FIXTURES.md, at sf0.01 volume.
* ``text_corpus`` writes the MapReduce inputs: a directory of small
  alphabetic Zipf-vocabulary text files, one large file and a literal
  string, in the reference's three input modes.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixture domains (FIXTURES.md, read from the sf0.01 parquet footers).
FIXTURE_WORDS = (
    "a the data query table row column key value part order line customer "
    "join filter group sort merge scan hash agg window stream batch spark "
    "vector small big fast slow"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EPOCH_2024 = dt.datetime(2024, 1, 1)

# sf0.01 volume: the LLM operators' fixed per-query floor dominates here.
N_DOCS = 500
N_NEAR_DUPS = 30
N_VECS = 500
N_EVENTS = 10_000
N_USERS = 150
DIM = 64
N_LABELS = 10

# MapReduce corpus shape.
N_FILES = 240
FILE_WORDS = (150, 450)
BIG_FILE_WORDS = 120_000
STRING_WORDS = 400
VOCAB = 3000
APP_FILES = 200  # the pure-Python application's subset of the directory


def rng_for(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


def _write(table: pa.Table, path: Path) -> None:
    tmp = path.with_suffix(".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _documents(rng: np.random.Generator) -> pa.Table:
    weights = 1.0 / np.arange(1, len(FIXTURE_WORDS) + 1)
    weights /= weights.sum()
    # The same number of near duplicates in every seed and, as in the
    # fixture, no verbatim duplicate, so the dedup operators take the
    # same plan branches whatever the seed.
    near = np.zeros(N_DOCS, bool)
    near[rng.choice(np.arange(20, N_DOCS), N_NEAR_DUPS, replace=False)] = True
    texts: list[str] = []
    for i in range(N_DOCS):
        if not near[i]:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(FIXTURE_WORDS[j] for j in rng.choice(len(FIXTURE_WORDS), n, p=weights)))
            continue
        # two word edits to an earlier original, each changing the word
        words = texts[int(rng.choice(np.flatnonzero(~near[:i])))].split()
        for pos in rng.choice(len(words), 2, replace=False):
            shift = int(rng.integers(1, len(FIXTURE_WORDS)))
            words[pos] = FIXTURE_WORDS[(FIXTURE_WORDS.index(words[pos]) + shift) % len(FIXTURE_WORDS)]
        texts.append(" ".join(words))
    langs = rng.choice(LANGS, N_DOCS, p=LANG_WEIGHTS)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    centers = rng.standard_normal((N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, N_VECS)
    vecs = 0.5 * centers[labels] + rng.standard_normal((N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, N_VECS * DIM + 1, DIM), pa.int32()),
        pa.array(vecs.ravel(), pa.float32()),
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )


def _events(rng: np.random.Generator) -> pa.Table:
    # ~30 days of increasing timestamps, as in the fixture stream
    gaps = rng.exponential(30 * 86400e6 / N_EVENTS, N_EVENTS).astype(np.int64)
    ts = np.cumsum(gaps) + int(EPOCH_2024.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS).tolist(), pa.string()),
            "value": pa.array(
                np.maximum(np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01), pa.float64()
            ),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)],
                pa.string(),
            ),
        }
    )


def llm_tables(seed: int, out: Path, variant: int = 0, tables=("documents", "embeddings", "events")) -> None:
    """Write the LLM-pipeline tables for (seed, variant) into ``out``.

    Variant ``k`` of a seed is the k-th refresh of the same corpus: it
    redraws ``documents`` and ``embeddings``; ``events`` depends on the
    seed only."""
    out.mkdir(parents=True, exist_ok=True)
    makers = {"documents": (_documents, 1), "embeddings": (_embeddings, 2), "events": (_events, 3)}
    for name in tables:
        make, salt = makers[name]
        v = 0 if name == "events" else variant
        _write(make(rng_for(seed, salt, v)), out / f"{name}.parquet")


def _vocabulary(rng: np.random.Generator) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < VOCAB:
        n = int(rng.integers(2, 10))
        words.add("".join(letters[rng.integers(0, 26, n)]))
    # frequent words are short, so text volume per token barely varies by seed
    return sorted(words, key=lambda w: (len(w), w))


def _text(rng: np.random.Generator, vocab: list[str], p: np.ndarray, n: int) -> str:
    """Zipf words with the noise the reference tokenizer strips:
    capitalised words, punctuation and digits between words."""
    words = [vocab[j] for j in rng.choice(len(vocab), n, p=p)]
    seps = rng.choice([" ", " ", " ", " ", ", ", ". ", "\n", " 42 ", "-", " (x) "], n)
    caps = rng.random(n) < 0.1
    return "".join(
        (w.capitalize() if c else w) + s for w, c, s in zip(words, caps, seps)
    )


def text_corpus(seed: int, out: Path) -> None:
    """Write ``docs/`` (N_FILES files), ``big.txt`` and ``string.txt``
    (the literal-string input) plus ``app/`` (the subset the
    pure-Python application reads) into ``out``."""
    rng = rng_for(seed, 10)
    vocab = _vocabulary(rng)
    p = 1.0 / np.arange(1, VOCAB + 1) ** 1.1
    p /= p.sum()
    docs = out / "docs"
    app = out / "app"
    for d in (docs, app):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    for i in range(N_FILES):
        text = _text(rng, vocab, p, int(rng.integers(*FILE_WORDS)))
        (docs / f"doc{i:04d}.txt").write_text(text)
        if i < APP_FILES:
            (app / f"doc{i:04d}.txt").write_text(text)
    (out / "big.txt").write_text(_text(rng, vocab, p, BIG_FILE_WORDS))
    (out / "string.txt").write_text(_text(rng, vocab, p, STRING_WORDS))
