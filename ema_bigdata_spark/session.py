"""SparkSession construction tuned for the 100-TB design point.

The reference (``/root/reference`` ``Main.scala:22-30``) builds a bare
``local[2]`` session with no tuning.  Our sessions enable AQE (runtime
join-strategy + skew handling), partition coalescing, and Arrow so the
same code scales from ``local[*]`` tests to a 1000-executor cluster
without plan changes.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.errors import AnalysisException, IllegalArgumentException
from pyspark.sql import SparkSession

# Confs that are safe (and desirable) at any scale.  All of these are
# runtime-settable so they also work when applied to an externally
# provided session (the verify driver owns its own SparkSession).
RUNTIME_CONFS: dict[str, str] = {
    # AQE re-plans joins/shuffles from runtime statistics: converts
    # sort-merge joins to broadcast when a side turns out small, splits
    # skewed shuffle partitions, coalesces tiny ones.  Essential at
    # 100 TB where static estimates are unreliable.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # (The AQE sort-merge→shuffled-hash threshold is set in ``tune()``,
    # not here: its value must track the session's ACTUAL advisory
    # partition size — Spark only applies the rewrite when the
    # threshold is ≥ advisoryPartitionSizeInBytes, so a static 64 MiB
    # would silently disable it on any deployment that raises the
    # advisory size.  ADVICE r12.)
    # Guard for TIMESTAMP(NANOS) parquet columns, which Spark cannot
    # read natively: read them as long (ns since epoch); the loader
    # (tables.py) converts to TIMESTAMP_NTZ only when a column actually
    # arrives as a raw long.  The current testdata is TIMESTAMP(MICROS)
    # (reads natively), so this is dormant — but harmless — there.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for any pandas interchange (mapInPandas paths).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# Confs only applied when *we* build the session (static or
# environment-shaped).
BUILDER_CONFS: dict[str, str] = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.session.timeZone": "UTC",
    # 64 MiB broadcast threshold: region/nation/customer/supplier/part
    # are dimension tables; at 100 TB the fact tables grow but the dims
    # stay broadcastable.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def _set_if_modifiable(spark: SparkSession, key: str, value: str) -> None:
    """``spark.conf.set`` that skips a conf the session refuses as
    non-modifiable — a core conf or a static SQL conf, raised on Spark
    4.1 as ``AnalysisException`` with condition ``CANNOT_MODIFY_CONFIG``
    or ``CANNOT_MODIFY_STATIC_CONFIG``.  Every other error raises."""
    try:
        spark.conf.set(key, value)
    except AnalysisException as e:
        if e.getCondition() not in (
            "CANNOT_MODIFY_CONFIG", "CANNOT_MODIFY_STATIC_CONFIG"
        ):
            raise


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (driver-owned).

    A conf the session refuses as non-modifiable is skipped (the loader
    re-asserts what it needs); any other error — a malformed value, a
    dead session — raises."""
    for k, v in RUNTIME_CONFS.items():
        _set_if_modifiable(spark, k, v)
    # AQE sort-merge→shuffled-hash rewrite (guide §3.1; Spark default 0
    # = off): when every post-shuffle partition of the build side is
    # under the threshold, the sort of both sides is skipped.  The
    # default DERIVES from the session's advisory partition size
    # (Spark only applies the rewrite when threshold ≥ advisory size,
    # and the advisory size is exactly the "one normal post-AQE
    # partition" bound that makes the rewritten hash table OOM-safe).
    # Evidence: interleaved min-of-3 A/B at sf1 (r13) on the five
    # SMJ-shaped queries — q_join_full −8.8%, q_cdc_merge −10.8%,
    # q_dedup_incremental_near −11.8%, q_pagerank −7.9%,
    # q_sql_tpch_q2 flat (+2%, noise); the sf0.1 A/B was within noise
    # (r12), the sf1 one is not.  Env-overridable for cluster sizing.
    shj = os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD")
    key = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    if shj is None:
        _set_if_modifiable(spark, key, spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        ))
        return spark
    try:
        _set_if_modifiable(spark, key, shj)
    except IllegalArgumentException as e:
        raise ValueError(
            f"SPARK_GRAFT_SHJ_THRESHOLD={shj!r} is not a byte size "
            f"accepted by {key}"
        ) from e
    return spark


@contextlib.contextmanager
def pinned_confs(spark: SparkSession, confs: dict[str, str]):
    """Set runtime confs for the duration of a block, then restore each
    key's previous value (unset again if it was unset), also when the
    block raises.  The one conf-pin mechanism of the package: the
    streaming drains pin their state width with it and connected
    components pins its loop's shuffle width."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def get_spark(
    app_name: str = "ema-bigdata-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    b = SparkSession.builder.master(master).appName(app_name)
    for k, v in {**BUILDER_CONFS, **RUNTIME_CONFS}.items():
        b = b.config(k, v)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return tune(spark)
