"""SparkSession factory.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32) but every
config below is chosen for the 100 TB / 1000-executor target:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion replace hand-tuned partition counts.
- Arrow on: every Pandas-UDF boundary is columnar-batched.
- shuffle.partitions is only the *initial* value — AQE coalesces down on
  small inputs and a real cluster raises it via spark-defaults.
- Python workers run under ``big_ann_spark.pyworker``: pyspark's worker
  calls ``importlib.invalidate_caches()`` before every task, and on
  Python < 3.13 that re-reads the central directory of every zip and
  jar on the worker's path (pyspark.zip, py4j, spark-core) — about
  0.2 s of CPU per task. The daemon re-reads an archive only when it
  changed on disk. Only a session this factory launches gets it: a
  foreign session and a ``SPARK_MASTER`` deployment keep Spark's
  default daemon, and ``prepare_foreign_session`` cannot change it
  once the context exists.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def _default_driver_mem() -> str:
    """min(32g, half of detected system RAM) — a hardcoded 32g fails or
    thrashes on smaller hosts. Note the value only matters when this
    call actually LAUNCHES the JVM: if a py4j gateway already exists
    (any prior SparkSession in the process), driver-memory conf is
    silently ignored — callers owning memory-sensitive workloads must
    create the session first."""
    try:
        gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
        return f"{max(1, min(32, int(gib * 0.5)))}g"
    except (ValueError, OSError, AttributeError):
        return "32g"


def get_spark(app_name: str = "big-ann-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    At cluster scale, master/memory come from spark-submit; only set a
    local master when none is configured.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else int(cpus)),
        )
        # 128 MiB splits: good parquet scan granularity both locally and at scale
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # partition-discovery listing: Spark's default parallelism
        # (10000) makes one near-empty task per directory on wide
        # layouts (an m = 10⁴ shard index), and per-task scheduling
        # overhead dominates — measured 19.9 s → 1.7 s on a
        # 10⁴-directory listing at 256. Raise this only for
        # high-latency object stores where listing RPCs, not task
        # scheduling, are the bottleneck.
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", "256")
        # broadcast anything under 64 MiB — centroid/dim tables are tiny
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # the driver's events.parquet stores ts as timestamp[ns]; Spark
        # has no nanosecond type — read as long, catalog converts to µs
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Every decorated DataFrame/Column op otherwise pays ~3
        # py4j round trips + a Python stack walk to capture error-
        # origin call sites (pyspark.errors.utils._with_origin);
        # measured 15-25% of pure query-construction time on the heavy
        # composites. Driver-side cost at ANY cluster size; only error
        # messages lose their "call site" line.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if not os.environ.get("SPARK_MASTER") and "SPARK_ENV_LOADED" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
        # local mode = ONE JVM doing driver + all 32 executor threads;
        # Java's default heap (1 GiB) OOMs the first ≥64 MiB broadcast
        # build at 10× data (measured: grouped_joins at /tmp/sf1x).
        # Cluster deployments size this via spark-submit instead.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        # the worker daemon (see module docstring) is imported by module
        # name, so the workers need this package's parent on their path
        # whatever the driver's working directory
        builder = builder.config("spark.python.daemon.module", "big_ann_spark.pyworker").config(
            "spark.executorEnv.PYTHONPATH", os.path.dirname(_PKG_DIR)
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prepare_foreign_session(spark: SparkSession) -> None:
    """Make an externally-created SparkSession (e.g. the grading
    driver's) able to run this engine's queries:

    - ship the package to python workers via addPyFile (mapInPandas
      closures reference module functions, which workers must import —
      a foreign session's PYTHONPATH doesn't include this repo);
    - enable nanosAsLong so the events table's timestamp[ns] parquet
      column is readable (runtime-settable session conf);
    - apply the same runtime-settable tuning get_spark uses: AQE (plus
      coalescing), Arrow batching, UTC session timezone (timestamp
      collect must not depend on the host machine's zone), and a
      CPU-sized spark.sql.shuffle.partitions — streaming stateful ops
      ignore AQE and otherwise inherit a foreign session's default 200
      state partitions.

    Runs ONCE per session: repeated calls are a single attribute check
    (per-query py4j conf round-trips would otherwise tax every cheap
    query). Prior conf values are snapshotted on the session object and
    an owner can undo every mutation with ``restore_session_confs`` —
    the courtesy contract for mutating an externally owned session.
    ``spark.sql.shuffle.partitions`` is only overridden when it still
    holds Spark's out-of-the-box 200 (an owner-tuned value wins).
    """
    if getattr(spark, "_big_ann_prepared", False):
        return
    # Disable per-op error-origin capture in THIS python process
    # (see get_spark). The conf alone is not enough on a foreign
    # session: pyspark caches the gate on first decorated call, which
    # the session owner has usually made already — set both.
    try:
        import pyspark.errors.utils as _eu

        _eu._enable_debugging_cache = False
    except Exception:
        pass
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    wanted = {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(int(cpus)),
    }
    backup: dict[str, str | None] = {}
    for key, val in wanted.items():
        try:
            cur = spark.conf.get(key, None)
        except Exception:
            cur = None
        if key == "spark.sql.shuffle.partitions" and cur not in (None, "200"):
            continue  # respect an owner-tuned parallelism
        if cur == val:
            continue
        try:
            spark.conf.set(key, val)
            backup[key] = cur
        except Exception:
            pass  # conf may be locked; proceed with the session's value
    spark._big_ann_conf_backup = backup
    spark._big_ann_prepared = True

    sc = spark.sparkContext
    if getattr(sc, "_big_ann_pyfile_added", False):
        return
    import tempfile
    import zipfile

    # one archive per call, never deleted: workers fetch it after this
    # returns, and a shared name could be rewritten by another process
    fd, zpath = tempfile.mkstemp(prefix="big_ann_spark_pkg-", suffix=".zip")
    with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as z:
        for root, _dirs, files in os.walk(_PKG_DIR):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, os.path.dirname(_PKG_DIR)))
    sc.addPyFile(zpath)
    sc._big_ann_pyfile_added = True


def restore_session_confs(spark: SparkSession) -> None:
    """Undo every conf mutation ``prepare_foreign_session`` made on this
    session (values it found already-correct were never touched). A
    session owner embedding this engine calls it after the engine's
    queries finish collecting — not between building a DataFrame and
    collecting it, since nanosAsLong/timeZone must hold at execution."""
    backup = getattr(spark, "_big_ann_conf_backup", None) or {}
    for key, old in backup.items():
        try:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)
        except Exception:
            pass
    spark._big_ann_conf_backup = {}
    spark._big_ann_prepared = False
