"""The session memo's key discipline, driven with fake session objects
(no JVM): hits, in-place rewrites, session turnover, unstattable inputs
and directory-layout tables."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from mapreducegcp_spark.functions import session_cache


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture(autouse=True)
def _private_store(monkeypatch):
    # keep the real Spark session's entries out of these tests and these
    # fakes out of the real session's store
    monkeypatch.setattr(session_cache, "_entries", {})
    monkeypatch.setattr(session_cache, "_app_id", None)


class _Builder:
    def __init__(self):
        self.calls = 0

    def __call__(self):
        self.calls += 1
        return object()


def test_hit_returns_the_same_object(tmp_path):
    t = tmp_path / "t.parquet"
    t.write_bytes(b"abc")
    spark, build = _session("app-1"), _Builder()
    first = session_cache.memo(spark, [str(t)], ("k",), build)
    # a non-normalized spelling of the same path is the same input
    again = session_cache.memo(spark, [f"{tmp_path}/./t.parquet"], ("k",), build)
    assert again is first
    assert build.calls == 1
    other = session_cache.memo(spark, [str(t)], ("other",), build)
    assert other is not first and build.calls == 2


def test_rewritten_file_replaces_its_entry(tmp_path):
    t = tmp_path / "t.parquet"
    t.write_bytes(b"abc")
    spark, build = _session("app-1"), _Builder()
    first = session_cache.memo(spark, [str(t)], ("k",), build)
    # same size, newer mtime: a same-length rewrite must still miss
    t.write_bytes(b"xyz")
    st = t.stat()
    os.utime(t, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    second = session_cache.memo(spark, [str(t)], ("k",), build)
    assert second is not first
    t.write_bytes(b"longer payload")
    third = session_cache.memo(spark, [str(t)], ("k",), build)
    assert third is not second
    assert build.calls == 3
    assert len(session_cache._entries) == 1
    assert session_cache.memo(spark, [str(t)], ("k",), build) is third


def test_new_application_drops_the_old_sessions_entries(tmp_path):
    t = tmp_path / "t.parquet"
    t.write_bytes(b"abc")
    build = _Builder()
    old = session_cache.memo(_session("app-1"), [str(t)], ("k",), build)
    session_cache.memo(_session("app-1"), [str(t)], ("k2",), build)
    assert len(session_cache._entries) == 2
    new = session_cache.memo(_session("app-2"), [str(t)], ("k",), build)
    assert new is not old
    assert len(session_cache._entries) == 1
    # the old session's value is gone for good, not parked
    assert session_cache.memo(_session("app-1"), [str(t)], ("k",), build) is not old


def test_unstattable_path_builds_every_time(tmp_path):
    t = tmp_path / "t.parquet"
    t.write_bytes(b"abc")
    spark, build = _session("app-1"), _Builder()
    paths = [str(t), str(tmp_path / "missing.parquet")]
    a = session_cache.memo(spark, paths, ("k",), build)
    b = session_cache.memo(spark, paths, ("k",), build)
    assert a is not b
    assert build.calls == 2
    assert session_cache._entries == {}


def test_directory_table_fingerprint_tracks_its_parts(tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"a" * 10)
    (d / "part-1.parquet").write_bytes(b"b" * 20)
    fp = session_cache.fingerprint(str(d))
    assert fp[0] == 30  # summed part sizes, not the directory inode size

    # one part rewritten at the same size: the newest mtime moves
    p1 = d / "part-1.parquet"
    st = p1.stat()
    os.utime(p1, ns=(st.st_atime_ns, max(fp[1], st.st_mtime_ns) + 1_000_000))
    fp2 = session_cache.fingerprint(str(d))
    assert fp2[0] == 30 and fp2 != fp

    # one part grown: the size moves
    p1.write_bytes(b"b" * 25)
    assert session_cache.fingerprint(str(d))[0] == 35

    spark, build = _session("app-1"), _Builder()
    first = session_cache.memo(spark, [str(d)], ("k",), build)
    (d / "part-0.parquet").write_bytes(b"c" * 11)
    assert session_cache.memo(spark, [str(d)], ("k",), build) is not first
    assert session_cache.fingerprint(str(tmp_path / "absent")) is None
