"""SparkSession factory (SURVEY.md §7 M0).

Defaults chosen for correctness-critical determinism and for scale:

- UTC session timezone — timestamp value hashing depends on it;
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the ``events``
  fixture is Parquet TIMESTAMP(NANOS) which Spark 4.x otherwise
  refuses to read (FIXTURES.md); the conf is also applied at runtime
  by :func:`ensure_session_confs` so externally-built sessions
  (the driver's) work too;
- AQE on (runtime SMJ→BHJ conversion, skew-join splitting, partition
  coalescing) — on a 1000-executor cluster this is what adapts the
  static plan to real data sizes;
- shuffle partitions sized from the core count for local runs; a real
  cluster deployment would raise this to ~2-3× total cores and let AQE
  coalesce.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

#: SQL confs that are runtime-settable and required for correctness.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE sizes post-shuffle stages from COMPRESSED map-output bytes
    # with a 1 MB minimum partition size; expression- or Python-heavy
    # stages over well-compressed columnar data get starved of
    # parallelism long before that floor matters for shuffle
    # efficiency (profiled r13: whole-stage joins running on 3 tasks
    # at local[32]). A 256 KB floor keeps small-data stages wide;
    # at cluster scale partitions are advisory-sized (64 MB default)
    # and a lower floor is a no-op.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "256k",
    # let the planner pick shuffled-hash join when its size conditions
    # hold (build side fits a per-partition local map) — sort-merge
    # stays the plan whenever sizes are uncertain or large, so the
    # 100 TB shape is unchanged; at small-to-medium per-partition
    # builds SHJ skips both sides' sorts (guide §3.1/§9)
    "spark.sql.join.preferSortMergeJoin": "false",
    # One state-store backend for the WHOLE session, set before any
    # streaming query starts: transformWithState requires RocksDB
    # (per-variable column families), and RocksDB is the 100 TB choice
    # regardless (incremental checkpoints, state larger than heap).
    # Flipping this mid-session would corrupt provider affinity for
    # checkpoints created under the old provider (ADVICE r3), so no
    # query-builder is allowed to mutate it — see stateful.py.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


def _ship_package(spark: SparkSession) -> None:
    """Make ``hadoop_tools_spark`` importable in PYTHON WORKERS.

    mapInPandas / applyInPandas closures are pickled BY REFERENCE to
    this package, so every executor's Python worker must be able to
    ``import hadoop_tools_spark``. That happens for free only when the
    workers' cwd is the repo root (local mode inherits the driver
    JVM's cwd) — a driver started from any other directory, or a real
    cluster, gets ``ModuleNotFoundError`` mid-stage instead. The
    standard deployment answer: zip the package once and
    ``addPyFile`` it, which distributes the archive and prepends it to
    every worker's sys.path. Idempotent per session.
    """
    try:
        sc = spark.sparkContext
        if getattr(sc, "_hts_pkg_shipped", False):
            return
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zpath = os.path.join(
            "/tmp", f"hts_pkg_{os.path.basename(pkg_dir)}.zip"
        )
        # a stale zip would shadow fresh source in the workers (the
        # SparkFiles dir precedes cwd on their sys.path), so rebuild
        # whenever any module is newer than the archive
        src_mtime = max(
            os.path.getmtime(os.path.join(root, f))
            for root, _d, files in os.walk(pkg_dir)
            for f in files
            if f.endswith(".py")
        )
        if not os.path.exists(zpath) or os.path.getmtime(zpath) < src_mtime:
            tmp = f"{zpath}.{os.getpid()}.tmp"
            with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
                for root, _dirs, files in os.walk(pkg_dir):
                    for f in sorted(files):
                        if not f.endswith(".py"):
                            continue
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "hadoop_tools_spark",
                            os.path.relpath(full, pkg_dir),
                        )
                        zf.write(full, rel)
            os.replace(tmp, zpath)
        sc.addPyFile(zpath)
        sc._hts_pkg_shipped = True
    except (OSError, Py4JError):
        pass  # best-effort: cwd-based resolution still works locally


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an externally created session.

    The driver owns its SparkSession; these confs are all dynamic
    SQLConf entries, so setting them post-hoc is safe and verified.
    Also ships the package zip to Python workers (see _ship_package).
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException:
            pass  # non-settable in this deployment; session defaults apply
    _ship_package(spark)
    return spark


def get_spark(app_name: str = "hadoop-tools-spark") -> SparkSession:
    # before the JVM starts: make google.protobuf importable for the
    # transformWithState Python workers (no-op when already installed)
    from .compat import ensure_protobuf

    ensure_protobuf()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # no UI server: job and stage metrics are read from the
        # always-on status store (perfbench/probes.py::StageProbe)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return ensure_session_confs(builder.getOrCreate())
