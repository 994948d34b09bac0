"""SparkSession factory and required session configuration.

Two critical confs (SURVEY.md §1.2, §7.3):

- ``spark.sql.session.timeZone=UTC`` — testdata timestamps load as
  ``timestamp_ntz``; the DuckDB oracle treats them as naive. Pinning the
  session to UTC makes every NTZ<->LTZ cast wall-clock preserving, so
  oracle comparisons can never skew.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — ``events.ts`` is parquet
  TIMESTAMP(NANOS); Spark 4.1.2 throws PARQUET_TYPE_ILLEGAL without it.
  With it, the column reads as a raw int64 of nanoseconds which io.py
  converts back to a microsecond timestamp.

Scale notes (100 TB design): AQE stays on — it is the runtime answer to
shuffle-partition sizing and skew-join splitting on a real cluster. The
local shuffle-partition count is a *test* setting; on a 1000-executor
cluster the starting point is ~2-3x total cores and AQE coalesces from
there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that must hold on any session this engine runs under, including a
#: driver-provided one. All are runtime-settable SQL confs.
#: shuffle.partitions: an externally-built session defaults to 200 —
#: pure scheduling waste at local test scales; AQE re-coalesces per
#: stage either way, so pinning the engine's recommendation is safe.
REQUIRED_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
    # AQE coalesces small shuffle partitions DOWN but can never split
    # an oversized one UP — so the initial partition count is the real
    # ceiling on reduce-side parallelism and per-task state. A high
    # initial number costs almost nothing at small scale (AQE coalesces
    # to the advisory size before the reduce stage runs) and prevents
    # the spill knee when data outgrows the configured
    # shuffle.partitions: measured on the 1000× fact blowup (600M-row
    # lineitem, tools/stress_scale.py --facts), q_tpch_q21 went
    # 748 s → 193 s (3.9×) moving the effective partition count
    # 32 → 512 with the 1× time unchanged (SCALE.md §r11 third
    # decade). 512 ≈ 16× the 32-thread local parallelism; on a
    # 1000-executor cluster scale it with total cores.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": os.environ.get(
        "SPARK_GRAFT_INITIAL_PARTITIONS", "512"
    ),
}


#: The confs that set a shuffle's width: AQE starts every exchange at
#: initialPartitionNum, so shuffle.partitions alone does not.
_PARTITION_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
)
#: The session conf that holds a ``set_shuffle_partitions`` count.
_EXPLICIT_PARTITIONS = "spark.graft.shufflePartitions"


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply REQUIRED_RUNTIME_CONFS to an existing session (idempotent),
    with both partition confs at the ``set_shuffle_partitions`` count
    when one is set.

    The correctness driver constructs its own SparkSession; every query
    entry point calls this defensively before touching testdata.
    """
    confs = REQUIRED_RUNTIME_CONFS
    if (n := spark.conf.get(_EXPLICIT_PARTITIONS, None)) is not None:
        confs = {**confs, **dict.fromkeys(_PARTITION_CONFS, n)}
    for key, value in confs.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Static / non-settable conf on this build: only fatal if the
            # effective value is wrong, which the loader will surface.
            pass
    return spark


def set_shuffle_partitions(spark: SparkSession, n: int | None) -> SparkSession:
    """Run every shuffle of ``spark`` at exactly ``n`` partitions: set
    both partition confs to ``n`` and keep them there through every
    later ``configure_session``. ``None`` restores the defaults."""
    if n is None:
        spark.conf.unset(_EXPLICIT_PARTITIONS)
    else:
        spark.conf.set(_EXPLICIT_PARTITIONS, str(n))
    return configure_session(spark)


_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ensure_worker_pythonpath() -> None:
    """Make local-mode Python workers able to import this package no
    matter where the driver process was launched from.

    Workers spawned for pandas UDFs / mapInPandas inherit the
    PYTHONPATH environment variable, NOT the driver's sys.path — so a
    driver started outside the repo root (e.g. ``python tools/check.py``
    run from tools/) imports the package fine yet ships UDFs whose
    unpickle dies on the worker with ModuleNotFoundError, failing every
    Arrow-batched operator while pure-JVM plans keep passing. Prepend
    the package parent before the JVM boots (after that it's too late —
    worker env is fixed at context start). On a real cluster this env
    var only reaches the driver-side workers; ship the package with
    ``--py-files``/``spark.submit.pyFiles`` there."""
    cur = os.environ.get("PYTHONPATH", "")
    parts = cur.split(os.pathsep) if cur else []
    if _PKG_PARENT not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([_PKG_PARENT] + parts)


def get_spark(
    app_name: str = "copy-databasetables-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's required confs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32) for local runs;
    on a real cluster pass ``None`` with a spark-submit-provided master.
    ``shuffle_partitions`` runs every shuffle at exactly that count
    (``set_shuffle_partitions``); ``None`` keeps the defaults, 32
    partitions that AQE starts at 512.
    """
    _ensure_worker_pythonpath()
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Arrow for every pandas_udf / applyInPandas / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for key, value in REQUIRED_RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return set_shuffle_partitions(builder.getOrCreate(), shuffle_partitions)
