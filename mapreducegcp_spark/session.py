"""SparkSession construction.

Replaces the reference's cluster lifecycle (``init_cluster`` /
``destroy_cluster``, Master/Master.py:25-58,17-21): one SparkSession is
the job handle; ``spark.sql.shuffle.partitions`` plays the role of
``numberOfReducers``.

Scale posture: these defaults target local[N] testing but are written so
the same code runs on a real cluster — AQE handles runtime partition
coalescing and skew joins, shuffle partitions default to the core count
locally (a cluster submit would set it to ~2-3x total cores or rely on
AQE), and Arrow is enabled for any pandas-UDF path.

Python-worker fast path. Most of a small Python job's time was a fixed
cost per Python task, not compute. Measured on 4 cores with the test
session's confs (median of 7): a one-element
``sc.parallelize([1], 1).map(lambda x: x)`` job took 0.24 s, and a
no-op ``mapInPandas`` 0.30 s on 1 partition and 1.05 s on 16. A local
session therefore sets three confs, which take those to 0.06 s,
0.16 s and 0.37 s:

- ``spark.python.daemon.module`` runs the workers under
  ``_pyworker/mapreducegcp_pydaemon.py``. Per task,
  ``setup_spark_files`` calls ``importlib.invalidate_caches()``, and
  before CPython 3.13 that re-reads the central directory of ``pyspark.zip`` and the py4j zip
  once per cached importer (16 of them). The daemon re-reads an
  archive only when its mtime or size changed, so ``addPyFile`` zips
  and rewritten archives are still picked up.
- ``spark.executorEnv.PYTHONPATH`` is ``_pyworker/``, a directory
  that holds only the daemon module, so the worker can import it. A
  caller's value in ``extra_conf`` is kept and joined with it. The
  daemon imports nothing from this package, so workers still cannot
  import ``mapreducegcp_spark`` unless their cwd holds it: a function
  pickled by reference fails in a local session started outside the
  checkout, as it would on a cluster.
- ``spark.python.unix.domain.socket.enabled`` replaces the loopback
  TCP channel between the JVM and the worker. With the zip re-reads
  gone, TCP still cost about 40 ms per task in blocking reads: the
  one-element job took 0.10 s over TCP and 0.06 s over the socket.

Together they took the ``mapred`` perfbench warm pass from 4.55 s to
3.20 s (4 cores, median of 10 alternating pairs). All three are set
only when the resolved master starts with ``local``: the daemon module
and its directory exist only on the host that builds the session
(executors elsewhere have neither), the same gate
``_ephemeral_checkpoint`` uses for ``/dev/shm``. Any other master keeps
Spark's stock daemon and the confs that ``get_spark`` sets otherwise.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.1"
PYWORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_pyworker")
PYWORKER_DAEMON = "mapreducegcp_pydaemon"


def sf_dir_from_env() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


def cpus_from_env() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "mapreducegcp-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    ``extra_conf`` entries are applied last (they win over the
    defaults). Creation-time-only confs (driver memory, maxResultSize)
    are silently ignored by getOrCreate when a session already exists —
    callers that need them must be the ones creating the session.
    """
    n = cpus or cpus_from_env()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # parquet TIMESTAMP(MICROS) without a timezone must read as a
        # session-TZ (UTC) TIMESTAMP, not TIMESTAMP_NTZ: the engine's
        # time arithmetic (unix_micros, window ranges) and the DuckDB
        # oracle both treat naive storage as UTC instants, and NTZ
        # inference would make the same parquet file type-unstable
        # across writer versions.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # write timestamps as TIMESTAMP_MICROS, not legacy INT96:
        # INT96 row groups carry no min/max statistics, which silently
        # disables row-group skipping on every time-range predicate
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    extra = dict(extra_conf or {})
    if extra.get("spark.master", f"local[{n}]").startswith("local"):
        builder = builder.config("spark.python.daemon.module", PYWORKER_DAEMON).config(
            "spark.python.unix.domain.socket.enabled", "true"
        )
        caller_path = extra.get("spark.executorEnv.PYTHONPATH")
        extra["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            p for p in (caller_path, PYWORKER_DIR) if p
        )
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
