"""The local Python-worker fast path: stat-keyed zip re-reads
(``_pyworker/mapreducegcp_pydaemon.py``) and the three confs
``get_spark`` sets for a local master only.

On CPython 3.13+ ``install()`` is a no-op: the stock zipimport there
already drops a cache entry instead of re-reading it, so the zip tests
check the same behaviour of the stock importer."""

from __future__ import annotations

import importlib
import importlib.util
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark.sql import SparkSession

from mapreducegcp_spark.session import PYWORKER_DAEMON, PYWORKER_DIR, get_spark

REPO = Path(__file__).resolve().parent.parent
_spec = importlib.util.spec_from_file_location(
    PYWORKER_DAEMON, os.path.join(PYWORKER_DIR, f"{PYWORKER_DAEMON}.py")
)
pydaemon = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(pydaemon)
FAST_PATH_CONFS = (
    "spark.python.daemon.module",
    "spark.executorEnv.PYTHONPATH",
    "spark.python.unix.domain.socket.enabled",
)
PKG = {
    "zipstamp_pkg/__init__.py": "",
    "zipstamp_pkg/sub/__init__.py": "",
    "zipstamp_pkg/sub/mod.py": "VALUE = 1\n",
}


def _write_zip(path: Path, members: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)
    return str(path)


@pytest.fixture
def stamped(monkeypatch, tmp_path):
    """Install the stat-keyed invalidation; undo it, the test's
    sys.path entries, importers and modules afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(pydaemon, "_stamps", {})
    monkeypatch.setattr(sys, "path", list(sys.path))
    pydaemon.install()
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield reads
    for key in [k for k in sys.path_importer_cache if k.startswith(str(tmp_path))]:
        del sys.path_importer_cache[key]
    for name in [m for m in sys.modules if m.startswith("zipstamp_")]:
        del sys.modules[name]


def test_unchanged_archive_is_never_reread(stamped, tmp_path):
    archive = _write_zip(tmp_path / "a.zip", PKG)
    sys.path.insert(0, archive)
    assert importlib.import_module("zipstamp_pkg.sub.mod").VALUE == 1
    importlib.invalidate_caches()  # the first call stamps the archive
    stamped.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert archive not in stamped


def test_rewritten_archive_is_reread_once_and_imports_the_added_module(stamped, tmp_path):
    archive = _write_zip(tmp_path / "a.zip", PKG)
    sys.path.insert(0, archive)
    importlib.import_module("zipstamp_pkg.sub.mod")
    importlib.invalidate_caches()
    _write_zip(tmp_path / "a.zip", PKG | {"zipstamp_pkg/sub/added.py": "VALUE = 2\n"})
    stamped.clear()
    importlib.invalidate_caches()
    assert importlib.import_module("zipstamp_pkg.sub.added").VALUE == 2
    # the archive's three importers (root, package, subpackage) share one read
    assert stamped.count(archive) == 1


def test_archive_added_after_invalidation_imports(stamped, tmp_path):
    sys.path.insert(0, _write_zip(tmp_path / "a.zip", PKG))
    importlib.import_module("zipstamp_pkg.sub.mod")
    importlib.invalidate_caches()
    sys.path.append(_write_zip(tmp_path / "b.zip", {"zipstamp_extra.py": "VALUE = 3\n"}))
    importlib.invalidate_caches()
    assert importlib.import_module("zipstamp_extra").VALUE == 3


def test_unstattable_archive_takes_the_stock_reread(stamped, tmp_path):
    archive = _write_zip(tmp_path / "a.zip", PKG)
    sys.path.insert(0, archive)
    importlib.import_module("zipstamp_pkg.sub.mod")
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache


def _built_options(monkeypatch, **kwargs) -> dict:
    """The confs get_spark hands to the builder; no JVM starts."""
    seen: dict = {}

    def capture(self):
        seen.update(self._options)
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    get_spark("gate", cpus=2, **kwargs)
    return seen


def test_local_master_gets_the_fast_path_confs(monkeypatch):
    opts = _built_options(monkeypatch)
    assert opts["spark.master"] == "local[2]"
    assert opts["spark.python.daemon.module"] == PYWORKER_DAEMON
    assert opts["spark.executorEnv.PYTHONPATH"] == PYWORKER_DIR
    assert opts["spark.python.unix.domain.socket.enabled"] == "true"


def test_non_local_master_gets_none_of_the_fast_path_confs(monkeypatch):
    local = _built_options(monkeypatch)
    remote = _built_options(monkeypatch, extra_conf={"spark.master": "spark://head:7077"})
    assert not set(FAST_PATH_CONFS) & set(remote)
    expected = {k: v for k, v in local.items() if k not in FAST_PATH_CONFS}
    assert remote == expected | {"spark.master": "spark://head:7077"}


def test_callers_executor_pythonpath_is_kept_and_joined(monkeypatch):
    opts = _built_options(
        monkeypatch, extra_conf={"spark.executorEnv.PYTHONPATH": "/srv/callers/lib"}
    )
    assert opts["spark.executorEnv.PYTHONPATH"].split(os.pathsep) == [
        "/srv/callers/lib",
        PYWORKER_DIR,
    ]


def test_workers_path_holds_only_the_daemon_module():
    assert sorted(p.name for p in Path(PYWORKER_DIR).glob("*.py")) == [f"{PYWORKER_DAEMON}.py"]


def test_worker_runs_the_stat_keyed_invalidation(spark):
    def report(batches):
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        owner = zipimport.zipimporter.invalidate_caches.__globals__["__spec__"]
        yield pd.DataFrame(
            {
                "daemon": [sys.modules["__main__"].__spec__.name],
                "owner": [owner.name],
                "pre313": [sys.version_info < (3, 13)],
            }
        )

    row = spark.range(1).mapInPandas(report, "daemon string, owner string, pre313 boolean").first()
    assert row.daemon == PYWORKER_DAEMON
    assert row.owner == (PYWORKER_DAEMON if row.pre313 else "zipimport")


# A session started outside the checkout, as a user of the package
# would: the workers' cwd does not hold the package and the fast path
# must not put it on their path, so a function that needs the package
# by reference fails here as it would on a cluster.
OUTSIDE_CHILD = """
import json, sys
sys.path.insert(0, {repo!r})
from mapreducegcp_spark.session import get_spark


def probe(batches):
    import sys
    import pandas as pd

    for _ in batches:
        pass
    try:
        import mapreducegcp_spark

        found = mapreducegcp_spark.__file__
    except ImportError:
        found = None
    yield pd.DataFrame({{"daemon": [sys.modules["__main__"].__spec__.name], "found": [found]}})


spark = get_spark("outside-checkout", cpus=2)
row = spark.range(1).mapInPandas(probe, "daemon string, found string").first()
print(json.dumps(row.asDict()))
"""


def test_udf_outside_the_checkout_cannot_import_the_package(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", OUTSIDE_CHILD.format(repo=str(REPO))],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
        env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = [line for line in out.stdout.splitlines() if line.startswith("{")]
    assert json.loads(lines[-1]) == {"daemon": PYWORKER_DAEMON, "found": None}


def test_add_py_file_module_imports_inside_a_udf(spark, tmp_path):
    from pyspark.sql import functions as F

    archive = _write_zip(tmp_path / "addpy.zip", {"zipstamp_addpy.py": "VALUE = 41\n"})
    spark.sparkContext.addPyFile(archive)

    @F.udf("long")
    def plus_value(x):
        import zipstamp_addpy

        return x + zipstamp_addpy.VALUE

    got = spark.range(1, 3, numPartitions=2).select(plus_value("id").alias("v")).collect()
    assert sorted(r.v for r in got) == [42, 43]
