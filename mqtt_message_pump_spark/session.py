"""SparkSession builder tuned for this engine.

Local testing runs a single JVM (``local[N]``); production targets a
multi-executor cluster reading ~100 TB, so every default here is chosen to
survive a 1000x scale-up: AQE on (runtime coalesce + skew-join handling),
shuffle partitions sized to cores locally (overridable for a cluster),
Arrow transfer on for the Pandas-UDF slow path.

This is the only module that writes session state: ``SESSION_CONF``
(applied by ``get_spark`` and ``ensure_session``) and, for a plan that
needs a setting of its own, a private session clone (``plan_in_clone``).

The ``file://`` scheme is served by ``jvm/NioLocalFileSystem.java`` (built
into ``jvm/localfs.jar`` by ``tools/build_localfs_jar.py``): without
libhadoop, Hadoop's stock local filesystem spawns a ``chmod``, ``readlink``
or ``ls`` process for file metadata, several per checkpoint and sink file.
The replacement does those calls through ``java.nio.file`` and keeps the
stock ``.crc`` checksum layer.  Other schemes are untouched.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

LOCALFS_JAR = os.path.join(os.path.dirname(__file__), "jvm", "localfs.jar")
LOCALFS_CONF = {
    "spark.hadoop.fs.file.impl": "mqtt_message_pump_spark.jvm.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl":
        "mqtt_message_pump_spark.jvm.NioLocalFileSystem$Fs",
}
# settings that query results depend on (see plans/registry.py for the
# parquet timestamp pair); the manifest_sink source implements
# pushFilters, which Spark 4 refuses LOUDLY unless filterPushdown is on
SESSION_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.python.filterPushdown.enabled": "true",
}
# share of physical memory the local-mode JVM heap may grow to; the rest
# stays for Python workers, the page cache and the OS
DRIVER_MEMORY_FRACTION = 0.5


def default_driver_memory() -> str:
    """``spark.driver.memory`` for this host: a fixed share of physical RAM."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{int(phys * DRIVER_MEMORY_FRACTION) >> 20}m"


def _localfs_conf(extra_conf: dict[str, str]) -> dict[str, str]:
    """``extra_conf`` plus the ``file://`` binding, with the jar appended to
    the caller's driver and executor class paths.

    A JVM started earlier without the jar (a caller's own session) cannot
    load the classes, so it keeps the stock filesystem."""
    jvm = SparkContext._jvm
    if jvm is not None and not jvm.org.apache.spark.util.Utils.classIsLoadable(
        LOCALFS_CONF["spark.hadoop.fs.file.impl"]
    ):
        return extra_conf
    conf = {**LOCALFS_CONF, **extra_conf}
    for key in ("spark.driver.extraClassPath", "spark.executor.extraClassPath"):
        conf[key] = os.pathsep.join(filter(None, (extra_conf.get(key), LOCALFS_JAR)))
    return conf


def get_spark(
    app_name: str = "mqtt_message_pump_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r16: parallelismFirst goes BACK to Spark's default (true).  The
        # r15 setting (false = coalesce purely by the advisory size) was
        # chosen off sf0.1 per-exchange overhead (~10 ms/task saved) but
        # the round-16 10x spot bench exposed its scale failure mode:
        # post-shuffle stages whose BYTES are small but whose WORK is
        # large (LSH bucket lists fanning out k^2 candidate pairs via
        # explode) coalesce to ONE task -- q_minhash_pairs 38.9 s -> 1.9 s
        # and q_simhash_pairs 17.7 s -> 6.4 s on the 10x data just from
        # this flag, while r15's own 15-query sf0.1 A/B measured pf=true
        # vs false as noise (14.12 vs 14.24 s total).  AQE sizes reduce
        # partitions from map-output BYTES and cannot see explode
        # fan-out, so the parallelism floor is the only safe default;
        # large shuffles still coalesce toward the 64 MB advisory size
        # above that floor (guide SS2.2).
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "true",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # don't let shuffle/broadcast cleanup RPCs stall the next job
        # (observed multi-second pauses after shuffle-heavy queries)
        .config("spark.cleaner.referenceTracking.blocking", "false")
        # local mode = driver-only JVM: all executor threads share this
        # heap, so size it like a worker, not a coordinator
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        # long sessions compile hundreds of whole-stage-codegen classes;
        # the JVM default 240m code cache fills, JIT starts flushing hot
        # methods, and expression-heavy stages fall back to interpreted
        # execution with 10-100x erratic slowdowns -- reserve enough that
        # generated code stays compiled for the life of the session
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
    )
    for k, v in {**SESSION_CONF, **_localfs_conf(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_session(spark: SparkSession) -> None:
    """Apply ``SESSION_CONF`` to a session the engine is handed (the
    driver contract's own); only reads when the settings are in place."""
    for k, v in SESSION_CONF.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


def plan_in_clone(
    spark: SparkSession,
    conf: dict[str, str],
    build: Callable[[SparkSession], DataFrame],
) -> DataFrame:
    """``build(clone)`` planned in a private clone of ``spark``'s session
    (its settings at the call, runtime ones included, plus ``conf``) and
    returned as a frame of ``spark``, which is never written -- so no
    other thread planning on it sees ``conf``."""
    jclone = spark._jsparkSession.cloneSession()
    for k, v in conf.items():
        jclone.conf().set(k, v)
    built = build(SparkSession(spark.sparkContext, jclone))
    return rebind(built, spark)


def rebind(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s analyzed plan as a frame of ``spark``'s session."""
    dataset = spark._jvm.org.apache.spark.sql.classic.Dataset
    return DataFrame(
        dataset.ofRows(spark._jsparkSession, df._jdf.logicalPlan()), spark
    )
