"""SparkSession factory + engine configuration.

Replaces the reference's connection factory + logging/env plumbing
(``utils.py:299-309`` return_exa_conn, ``utils.py:25-43`` set_logging,
``utils.py:58-114`` deployment gating): instead of a remote Exasol
websocket connection, the "connection" is a SparkSession whose
Catalyst engine plans and executes every query that the reference
shipped to Exasol as SQL strings.

Scale notes (100 TB target)
---------------------------
The defaults below are written for local[N] testing but every knob is
overridable via ``extra_conf`` for a real cluster:

- AQE on: runtime coalescing + skew-join splitting replaces manual
  partition tuning when the input is 1000× larger.
- ``spark.sql.shuffle.partitions`` should be ~2-3× total executor
  cores on a cluster (driver sets it explicitly); locally = cores.
- Arrow enabled: every pandas_udf / toPandas boundary is columnar.
- UTC session timezone: deterministic timestamp semantics across
  engines (the reference's Exasol was implicitly UTC). The parquet read
  invariants live here too, set once per session rather than per read:
  naive parquet timestamps read as instants (``inferTimestampNTZ`` off)
  and TIMESTAMP(NANOS) columns read as raw longs (``nanosAsLong``), which
  ``sources.tables.load_table`` truncates to micros.
- ``spark.sql.files.openCostInBytes`` is 256k, not 4 MB. A file split is
  ``max(openCost, bytes/cores)`` (capped by ``maxPartitionBytes``), so
  with the 4 MB default a few-MB multi-row-group parquet file became ONE
  task and its whole map-side pipeline ran on one core. At 256k such a
  file reads as one split per core; files under 256k stay one split;
  large inputs are still capped by ``maxPartitionBytes`` (128 MB).
- Driver memory defaults to half the machine's physical RAM (at most
  48g): in local mode the driver heap is the whole engine's heap, and a
  heap larger than the machine fails late under memory pressure.
"""

from __future__ import annotations

import logging
import os
import sys
import warnings

from pyspark.sql import SparkSession

_LOGGERS: dict[str, logging.Logger] = {}


def set_logging(name: str = "bi_utils_spark") -> logging.Logger:
    """Memoized stdout logger (reference: utils.py:25-43 set_logging).

    Same contract: repeated calls with the same name return the same
    logger and never stack duplicate handlers.
    """
    if name in _LOGGERS:
        return _LOGGERS[name]
    logger = logging.getLogger(name)
    logger.setLevel(logging.INFO)
    if not logger.handlers:
        handler = logging.StreamHandler(sys.stdout)
        handler.setFormatter(
            logging.Formatter("%(asctime)s [%(levelname)s] - %(message)s")
        )
        logger.addHandler(handler)
    _LOGGERS[name] = logger
    return logger


def deployment(env: str | None = None, prod: bool = True, dev: bool = True) -> bool:
    """Environment run-gate (reference: utils.py:58-114 deployment).

    Returns True when the current ``env`` is enabled by the
    (prod, dev) flags; ``env=None`` runs everywhere. Unlike the
    reference this returns a bool instead of calling sys.exit so
    callers (and tests) stay in control.
    """
    log = set_logging()
    if env is None:
        return True
    env = env.lower()
    if env == "prod" and not prod:
        log.info("deployment(): script disabled for prod — skipping")
        return False
    if env == "dev" and not dev:
        log.info("deployment(): script disabled for dev — skipping")
        return False
    return True


def deprecation(message: str) -> None:
    """Deprecation signal (reference: utils.py:117-123)."""
    warnings.warn(message, DeprecationWarning, stacklevel=2)


def _default_driver_mem() -> str:
    """Half of physical RAM, capped at 48g (``SPARK_GRAFT_DRIVER_MEM``
    overrides)."""
    try:
        ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        return "48g"
    return f"{max(1, min(48, ram // 2 >> 30))}g"


def get_spark(
    app_name: str = "bi_utils_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Defaults pin the settings every operator in this library assumes:
    UTC timestamps and instant (not NTZ) parquet timestamps, AQE, Arrow,
    small-file split sizing. ``master`` defaults to
    ``local[$SPARK_GRAFT_CPUS]`` (env, fallback ``local[*]``) so the
    same code runs unmodified under a cluster spark-submit, where
    master is injected externally.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    builder = (
        SparkSession.builder.appName(app_name)
        # local mode = one JVM: driver memory is the only heap knob
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing floor (guide §2.2): the 1 MB default folds a
        # few-MB post-shuffle stage into 1-4 partitions, serializing
        # every downstream Arrow/codegen stage on an idle machine. A
        # low floor keeps parallelismFirst honest (it still targets
        # defaultParallelism); at production shuffle sizes partitions
        # are advisory-sized (64 MB+) and a 64k floor never binds, so
        # this is a small-data knob only — env-overridable per scale.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # split small multi-row-group files across cores (scale notes)
        .config("spark.sql.files.openCostInBytes", "256k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow transfer batches (ONE documented place — operators do
        # not mutate these at plan-build time, r5 advice). Spark 4's
        # maxBytesPerBatch bounds a JVM->Python batch BY BYTES, so the
        # media tier's fat binary rows are safe at any record cap
        # (verified: 1 MB payloads under an 8m cap batch at 4-8 rows
        # regardless of the record setting); the r7-era 256-row record
        # guard existed only because that knob didn't. 1024-row record
        # batches measured (r12, interleaved A/B at sf0.1, 256 -> 1024):
        # q_pq_topk 3.55 -> 1.47 s, q_media_features 1.03 -> 0.53 s,
        # q_jpeg_roundtrip 1.65 -> 1.04 s, q_emb_near_dup_ivf
        # 1.98 -> 1.36 s — vectorized numpy/codec kernels amortize per-
        # batch overhead (2048 measured equal-or-worse on a quiet box);
        # 64m byte cap x cores of in-flight batches is bounded and
        # env-overridable per deployment.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "1024"),
        )
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_MAX_BYTES", "64m"),
        )
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    # Only force master when no live session exists (spark-submit wins).
    if SparkSession.getActiveSession() is None:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_object_store(
    spark: SparkSession,
    access_key: str | None = None,
    secret_key: str | None = None,
    region: str = "eu-central-1",
    endpoint: str | None = None,
) -> SparkSession:
    """Point the session's Hadoop s3a filesystem at an object store.

    Replaces the reference's per-call boto3 client factory
    (``establish_boto3_client``, utils.py:389-414): on Spark the store
    is a *filesystem* — executors stream parquet from ``s3a://`` paths
    directly, so there is no per-call client and no driver-side byte
    shuttling. Credentials fall back to the standard provider chain
    (env/instance profile) when not given — preferred in production.
    """
    hconf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    if access_key and secret_key:
        hconf.set("fs.s3a.access.key", access_key)
        hconf.set("fs.s3a.secret.key", secret_key)
    hconf.set("fs.s3a.endpoint.region", region)
    if endpoint:
        hconf.set("fs.s3a.endpoint", endpoint)
    hconf.set("fs.s3a.fast.upload", "true")
    return spark
