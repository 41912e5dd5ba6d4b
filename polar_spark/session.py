"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every default here is chosen to
survive a 1000-executor cluster at 100 TB: AQE on (runtime coalescing +
skew-join handling), zstd parquet (reference compresses chunks with zstd,
internal/producing/coalescer.go:49), UTC session timezone (oracle
comparability), Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil

from pyspark.sql import SparkSession


def _remove_own_file(path: str, pid: int) -> None:
    """At-exit removal of a file or directory this process made; a
    forked child that exits through ``atexit`` leaves its parent's
    alone."""
    if os.getpid() == pid:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            with contextlib.suppress(OSError):
                os.remove(path)


def get_spark(
    app_name: str = "polar_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local core count for local
    masters; on a real cluster leave it unset and let AQE coalesce from a
    high initial number.
    """
    # make polar_spark importable in every Python process Spark spawns
    # (executors AND the driver-side streaming-source runner, which only
    # inherits PYTHONPATH) — must happen before the JVM starts
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus if master.startswith("local") else 512

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # allow shuffled-hash join where a per-partition build fits
        # (guide §3.1/§9): the planner default prefers sort-merge even
        # when hashing one side per partition is cheaper. At sf0.1 this
        # is a measured NO-OP (every TPC-H join is already a broadcast
        # hash join — plan dumps in plans/r13 are strategy-identical
        # with and without it); it is kept as CLUSTER posture for inputs
        # where a side outgrows the broadcast threshold, and the full
        # oracle sweeps run with it set. The AQE threshold additionally
        # rewrites SMJ→SHJ at runtime when every post-shuffle partition
        # is under 128 MB (same bound as maxPartitionBytes) — sized so a
        # build side never exceeds one scan split per task; both
        # env-overridable for clusters where per-task memory is tighter
        # than 128 MB × cores.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("POLAR_SPARK_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("POLAR_SPARK_SHJ_LOCALMAP_MAX", "134217728"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # TIMESTAMP_MICROS (not legacy INT96): INT96 columns carry no
        # row-group statistics, which breaks record-time retention
        # (topics.vacuum) and timestamp min/max pushdown on topic scans
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # driver testdata is written with TIMESTAMP(NANOS); read as long and
        # convert via sources.tables.load_table (Spark has no ns timestamps)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("POLAR_SPARK_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_driver_session(spark: SparkSession) -> SparkSession:
    """Make an EXTERNALLY-created SparkSession (e.g. the correctness
    driver's) able to run every operator:

    - the testdata's TIMESTAMP(NANOS) parquet needs the nanosAsLong
      legacy flag (runtime-settable SQL conf);
    - Python workers must import ``polar_spark`` to unpickle
      module-referenced functions (mapInPandas codecs, pandas UDFs), so
      ship the package via addPyFile — effective regardless of the
      worker's PYTHONPATH or working directory.

    Idempotent; sessions built by :func:`get_spark` need neither but are
    safe to pass."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # every timestamp oracle (date_trunc/unix_timestamp/session
        # windows) is written against UTC; a host-local session tz would
        # silently shift bucket boundaries vs the DuckDB side
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # same join-strategy posture as get_spark sessions (runtime-
        # settable SQL confs), so externally-created sessions plan the
        # same physical joins the local sweeps verified
        spark.conf.set(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("POLAR_SPARK_PREFER_SMJ", "false"),
        )
        spark.conf.set(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("POLAR_SPARK_SHJ_LOCALMAP_MAX", "134217728"),
        )
    except Exception:
        pass  # flag may be unsupported in future Spark; reads then decide
    sc = spark.sparkContext
    if not getattr(sc, "_polar_spark_shipped", False):
        import tempfile
        import zipfile

        pkg_root = os.path.dirname(os.path.abspath(__file__))
        base = os.path.dirname(pkg_root)
        # per-process zip name: a shared cached name goes stale the moment
        # the package gains a module (workers then ModuleNotFoundError on
        # perfectly valid code)
        pid = os.getpid()
        zpath = os.path.join(tempfile.gettempdir(), f"polar_spark_pkg_{pid}.zip")
        # removed at interpreter exit, not after addPyFile: executors
        # fetch the file from this path for the life of the context
        atexit.register(_remove_own_file, zpath, pid)
        if not os.path.exists(zpath):
            with zipfile.ZipFile(zpath, "w") as z:
                for dirpath, _dirs, files in os.walk(pkg_root):
                    if "__pycache__" in dirpath:
                        continue
                    for fn in files:
                        if fn.endswith(".py"):
                            full = os.path.join(dirpath, fn)
                            z.write(full, os.path.relpath(full, base))
        try:
            sc.addPyFile(zpath)
        except Exception:
            pass  # already added in this context
        sc._polar_spark_shipped = True
    return spark
