"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]``; the configs below are the ones that
matter both locally and on a 1000-executor cluster:

- AQE on (runtime partition coalescing + skew-join splitting),
- shuffle partitions sized to the parallelism at hand (the driver's
  cluster submit should override ``spark.sql.shuffle.partitions`` to
  ~2-3x total cores; we default to local core count),
- UTC session timezone so timestamp semantics match the DuckDB oracle
  and are cluster-invariant,
- Arrow enabled for every pandas-UDF path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
CODEGEN_CACHE_ENTRIES = 8192


def get_spark(app_name: str = "mmlspark_spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or CPUS
    return (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Disable PySpark's per-API-call origin capture (a stack walk +
        # an extra py4j round trip on EVERY DataFrame/Column call, used
        # only to decorate error messages with user line numbers).
        # Plan-construction-heavy operators (LSH signatures, dHash
        # grids, wide aggregates) make thousands of such calls per
        # query; measured ~0.3-0.5 s of pure driver time per ANN lane
        # at any scale factor. Scale-independent: this is driver-side
        # constant overhead, not a data-sized cost.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Hold the engine's whole generated-class working set. Spark's
        # default of 100 entries is smaller than the classes one pass
        # over the headline lanes compiles, so a warm pass evicted and
        # recompiled them (Janino, then JIT) on every call. Static:
        # only a session built here gets it (sizing in DESIGN.md).
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created
    session (e.g. the verification driver's). Only touches confs that can
    change post-start: static ones, such as the codegen cache size
    ``get_spark`` sets, are fixed when the session is built, and a
    foreign session keeps whatever its builder chose."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one of the driver-generated tables; parquet scan keeps
    predicate pushdown + column pruning available to Catalyst.

    The ``events`` table's ``ts`` column has shipped as TIMESTAMP(NANOS)
    in some generations of the testdata (Spark's vectorized parquet reader
    rejects it → read nanos as long via the runtime-settable legacy conf,
    then integer-``div`` — NOT ``/``, whose double quotient loses
    sub-microsecond precision at 2^60-scale epochs) and TIMESTAMP(MICROS)
    in others (read as TIMESTAMP_NTZ under Spark 4 inference). Normalize
    both to session-TZ TimestampType so downstream queries and the UTC
    DuckDB oracle agree.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if name == "events":
        # Probe the footer locally (pyarrow, no Spark job) and flip the
        # legacy nanos conf ONLY for a nanos file. The conf cannot be
        # restored after the read — the scan consults it lazily at
        # execution — but gating it on the actual file type means a
        # micros-generation session never carries the side effect
        # (which would silently read OTHER tables' genuine
        # TIMESTAMP(NANOS) columns as longs for the session's rest).
        import os as _os

        import pyarrow.parquet as pq

        probe = f"{sf_dir}/{name}.parquet"
        if _os.path.isdir(probe):
            # directory-layout corpus (synthesized sfN builders write
            # part files): probe any one footer — all parts share the
            # writer's schema
            parts = sorted(p for p in _os.listdir(probe)
                           if p.endswith(".parquet"))
            if not parts:
                # a directory with no part files (only _SUCCESS, or an
                # interrupted build) would make pq.read_schema raise an
                # opaque IsADirectoryError — fail with the actual cause
                raise FileNotFoundError(
                    f"{probe}: directory contains no *.parquet part "
                    "files (interrupted or empty build?) — regenerate "
                    "the corpus or point sf_dir at a complete one")
            probe = _os.path.join(probe, parts[0])
        schema = pq.read_schema(probe)
        if any(str(schema.field(i).type) == "timestamp[ns]"
               for i in range(len(schema.names))):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):  # nanos-as-long generation
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts_type, TimestampNTZType):  # micros generation
            # NTZ→LTZ reinterprets the wall-clock in the SESSION TZ; a
            # caller that didn't come through get_spark would silently
            # shift instants, so pin UTC around the DataFrame build.
            # The zone is baked into the Cast during (eager) analysis,
            # so restoring the caller's TZ afterwards keeps this read
            # helper free of session-wide side effects.
            prev_tz = spark.conf.get("spark.sql.session.timeZone")
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            try:
                return df.withColumn("ts", F.col("ts").cast("timestamp"))
            finally:
                spark.conf.set("spark.sql.session.timeZone", prev_tz)
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
