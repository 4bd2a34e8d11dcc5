"""One session-scoped memo for state derived from input tables.

Operators keep derived state that is expensive to rebuild and cheap to
hold: a checkpointed pair graph, MinHash signatures, a trained BPE merge
table, a corpus row count, a file schema, ANN index parameters. Such a
value is valid only for the exact bytes it was derived from and, when it
holds a DataFrame, only inside the Spark application that built it.
``memo`` is the one place that policy lives; callers name their input
paths and a tag and nothing else:

- freshness: every input path contributes its ``fingerprint`` (size and
  mtime), so a table rewritten in place misses;
- scope: the store holds one application's entries; the first call
  from a new ``applicationId`` drops every entry of the previous one;
- bound: one entry per (paths, key); a changed fingerprint replaces the
  entry rather than adding a second one, so the store never holds more
  entries than there are distinct (paths, key) pairs in use;
- bypass: when a path cannot be statted (the data comes from somewhere
  the key cannot see, e.g. a monkeypatched loader in tests), ``build``
  runs on every call and nothing is stored. Serving a shared entry for
  an unidentifiable input is how a cache silently corrupts results.

A DataFrame kept here must not be a ``.cache()``: Spark's CacheManager
matches plans by root path, so a cached plan over a file is served to
a fresh read of that file after it is overwritten. Store a
``localCheckpoint`` instead; nothing but this memo can hand it out.
A dropped entry's checkpoint blocks are released by Spark's context
cleaner once the DataFrame is garbage collected.
"""

from __future__ import annotations

import os
import stat
from typing import Callable, Hashable, Sequence, TypeVar

T = TypeVar("T")

_app_id: str | None = None
_entries: dict[tuple, tuple[list, object]] = {}


def fingerprint(path: str) -> tuple[int, int] | None:
    """``(payload bytes, newest mtime_ns)`` of the table at ``path``, or
    None when it cannot be statted.

    A table is a single parquet FILE or a DIRECTORY of part files
    (tools/blowup_probe.py layout). ``os.stat`` of a directory reports
    the inode size, the same for every directory, so a directory sums
    the sizes of its files and takes the newest mtime among them and
    the directory itself (which moves when a part is added or removed).
    The byte count is also the ``_b<bytes>`` key of the persisted ANN
    index artifacts (operators/similarity.py)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return st.st_size, st.st_mtime_ns
        parts = [e.stat() for e in os.scandir(path) if e.is_file()]
    except OSError:
        return None
    return (
        sum(p.st_size for p in parts),
        max([st.st_mtime_ns, *(p.st_mtime_ns for p in parts)]),
    )


def memo(
    spark, paths: Sequence[str], key: Hashable, build: Callable[[], T]
) -> T:
    """The value ``build()`` derives from the tables at ``paths``,
    built at most once per (Spark application, paths, key, content)."""
    global _app_id
    app = spark.sparkContext.applicationId
    if app != _app_id:
        _entries.clear()
        _app_id = app
    prints = []
    for p in paths:
        fp = fingerprint(p)
        if fp is None:
            return build()
        prints.append(fp)
    slot = (tuple(os.path.normpath(p) for p in paths), key)
    hit = _entries.get(slot)
    if hit is not None and hit[0] == prints:
        return hit[1]
    value = build()
    _entries[slot] = (prints, value)
    return value
