"""SparkSession factory.

The reference pipeline runs eager single-threaded pandas per Airflow task
(reference: dags/etl/kpi_processor.py:54-96); our engine replaces that with a
single lazy Spark plan per pipeline run. This module centralizes the session
configuration that makes the engine behave well both on local[N] (tests/bench)
and on a large cluster (AQE, skew handling, partial aggregation).

Scale notes (100 TB design):
  - AQE is always on: runtime partition coalescing, skew-join splitting, and
    dynamic broadcast decisions replace hand-tuned shuffle partition counts.
  - `spark.sql.shuffle.partitions` here is only the *initial* number; AQE
    coalesces. On a real cluster set it ~2-3x total cores.
  - Session timezone is pinned to UTC so event-time bucketing (hour()) is
    deterministic and oracle-comparable regardless of host TZ.

Generated-code cache: whole-stage codegen compiles each distinct plan
fragment into a Java class (Janino, ~10 ms each) and keeps the classes in
one LRU cache per JVM, sized by `spark.sql.codegen.cache.maxEntries`
(Spark default 100). A repeated unit of work reuses its classes only if
they all fit. One hourly ETL batch with its warehouse reads needs ~133
distinct classes, a store epoch with its serves ~110, the test fixture
pipeline ~125; at the default the LRU is scanned cyclically, every lookup
misses, and each batch recompiles everything (~1.3 s of compile CPU per
ETL batch at local[4]). The cache is sized at 1000 entries here. It is a
static conf that Spark's CodeGenerator reads once, when it is first used:
it takes effect when the JVM's first session is built through this
factory (a later `getOrCreate` cannot resize it), and `extra_conf` can
still override it on that first session.
"""

from __future__ import annotations

import os
from typing import Callable, TypeVar

from pyspark import InheritableThread
from pyspark.sql import SparkSession

T = TypeVar("T")

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Generated-class cache entries (see module docstring). Working sets
# measured at local[4]: ~133 classes per hourly ETL batch with its reads,
# ~110 per store epoch with its serves, ~125 for the test fixture pipeline.
CODEGEN_CACHE_ENTRIES = 1000


def build_session(
    app_name: str = "s3_to_redshift_with_airflow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession tuned for this engine.

    Args:
        app_name: Spark application name.
        master: cluster master; defaults to ``local[$SPARK_GRAFT_CPUS]``.
        shuffle_partitions: initial shuffle partition count (AQE coalesces).
        extra_conf: additional config key/values (override defaults).
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] / cluster → a safe default AQE will fix up.
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = int(inner) if inner.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # static: takes effect on the JVM's first session only
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # 16g: measured on the bench box (local[32], 128 GiB) — the heavy
        # LSH/dedup plans run 2-3× slower under an 8g heap from GC pressure
        # alone (bench total 57-62 s at 8g vs 41 s at 16g, same code).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin session settings required for deterministic, engine-comparable
    results (idempotent; safe on a live session).

    - UTC session timezone: event-time bucketing (hour(), date_trunc) must not
      depend on host TZ.
    - nanosAsLong: the driver testdata writes TIMESTAMP(NANOS) parquet, which
      Spark's reader rejects by default; with this legacy flag nanos arrive as
      LongType and sources.readers.with_ts_from_nanos() rebuilds a proper
      timestamp column (floor-division to micros — same truncation DuckDB
      applies when it reads NANOS).
    """
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def run_concurrently(thunks: list[Callable[[], T]]) -> list[T]:
    """Run each thunk on its own thread; return their results in input order.

    Independent Spark actions submitted from one thread run one after
    another, each leaving most cores idle when its stages are narrow; from
    separate threads their jobs share the executors. The threads are
    `InheritableThread`s, so the caller's job group, job description and
    other local properties tag the jobs each thunk submits. Every thread is
    joined before the first error (in input order) is re-raised, so no
    thunk is still running when the caller sees it.
    """
    results: list = [None] * len(thunks)
    errors: list[BaseException | None] = [None] * len(thunks)

    def run(i: int) -> None:
        try:
            results[i] = thunks[i]()
        except BaseException as e:  # noqa: BLE001 — re-raised on the caller's thread
            errors[i] = e

    threads = [InheritableThread(target=run, args=(i,)) for i in range(len(thunks))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results
