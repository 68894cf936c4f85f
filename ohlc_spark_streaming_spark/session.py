"""SparkSession construction and engine configuration.

The reference builds its session at ``/root/reference/main.py:35-45`` (master
from env, graceful-shutdown conf, Kafka package). Our engine keeps the same
shape but adds the scale-oriented defaults a 100 TB deployment needs: AQE,
UTC-pinned session timezone (oracle determinism, SURVEY.md §2.8), Arrow for
any pandas exchange, and shuffle partitioning sized from the environment.

Two entry paths:

* :func:`build_session` — create a session (tests, bench, standalone runs).
* :func:`apply_engine_confs` — apply the *runtime-settable* subset onto an
  externally-owned session (the correctness driver passes us its own
  ``SparkSession``; every public query callable must run through this first).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

# Confs that are runtime-settable via spark.conf.set() on a live session.
# `spark.sql.legacy.parquet.nanosAsLong` is required because the driver
# testdata's events.ts column is parquet TIMESTAMP(NANOS), which Spark 4
# cannot read natively (PARQUET_TYPE_ILLEGAL); we read it as long and
# convert explicitly (see sources/batch.py).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE's 1 MiB coalesce floor assumes byte-bound work; this engine runs
    # CPU-heavy array/HOF expressions (shingle signatures, set
    # intersections) DOWNSTREAM of small exchanges, where collapsing a
    # 2 MiB shuffle to 2 partitions serializes minutes of CPU onto 2
    # cores. 64 KiB keeps parallelism-first actually parallelism-first on
    # small inputs; at real scale per-partition bytes dwarf either floor
    # and the setting is inert.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# Confs that must be set before the session starts (ignored by
# apply_engine_confs).
STATIC_CONFS: dict[str, str] = {
    "spark.sql.streaming.stopGracefullyOnShutdown": "true",
}


def apply_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs onto an existing session.

    Idempotent and cheap; called at the top of every public query entry so
    that driver-owned sessions behave identically to our own.
    """
    confs = {
        **RUNTIME_CONFS,
        # Size the shuffle to the actual machine instead of Spark's default
        # 200 — on local[N] the extra task scheduling dominates small stages.
        "spark.sql.shuffle.partitions": str(default_parallelism()),
    }
    for key, value in confs.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A conf may be static in some deployments; never fail a query
            # over a tuning knob.
            pass
    return spark


@contextlib.contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the session for the body, then put each one back:
    its previous value, or unset if it was unset — also when the body
    raises. The one place outside :func:`apply_engine_confs` that writes
    session confs (tools_lint.py's CONF_RAW lint keeps it that way)."""
    prev = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def build_session(
    app_name: str = "ohlc-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Create a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster, pass the cluster master URL; everything else is
    identical — partitioning discipline comes from confs, not code.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = default_parallelism()

    # Optional-dependency shims must extend $PYTHONPATH BEFORE the session
    # starts so Python workers inherit it (transformWithStateInPandas needs
    # google.protobuf in the worker — see _compat.ensure_protobuf).
    from ._compat import ensure_protobuf

    ensure_protobuf()

    builder = SparkSession.builder.master(master).appName(app_name)
    if master.startswith("local") and not (extra_confs or {}).get(
        "spark.driver.memory"
    ):
        # In local mode the driver JVM IS the executor; Spark's 1g default
        # heap GC-thrashes on multi-GB shuffles. Sized for the dev box;
        # real clusters set executor memory through submit configs instead.
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
    for key, value in {**STATIC_CONFS, **RUNTIME_CONFS}.items():
        builder = builder.config(key, value)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.ui.enabled", "false")
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate may have returned a pre-existing session; re-apply the
    # runtime subset so behavior is deterministic either way.
    return apply_engine_confs(spark)
