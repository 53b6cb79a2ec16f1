"""Fixture table loaders.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Schema quirks handled here (and only here):

- ``events.ts`` is parquet timestamp[ns].  Spark has no ns timestamp type
  and rejects the file outright, so we read with
  ``spark.sql.legacy.parquet.nanosAsLong=true`` and convert to a µs
  TIMESTAMP_NTZ (truncating ns → µs exactly like DuckDB's
  ``CAST(ts_ns AS TIMESTAMP)``).  SURVEY.md §7.4.2.
- All other timestamp columns are timestamp[ms] and arrive as TIMESTAMP_NTZ
  natively.

At cluster scale these loaders would point at a directory of many files /
a catalog table; the call shape stays the same.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from my_cudf_spark.session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Tables whose downstream work is COMPUTE-heavy per input byte (md5 per
# text gram, per-dimension vector arithmetic) rather than scan/shuffle
# bound: a small fixture file arrives as ONE scan split, so without a
# guard the entire expensive projection runs single-task — the hidden
# single-task anti-pattern, and the reason the text query family tracked
# single-CORE host speed in bench calibration (r7 verdict #2).
_COMPUTE_HEAVY = frozenset({"documents", "embeddings"})


# Per-session memo of the split-count decision, keyed by source path:
# ``df.rdd.getNumPartitions()`` runs full analysis + physical planning +
# RDD DAG construction through py4j (~tens of ms) on EVERY load of a
# compute-heavy table, and the answer is a pure function of (session,
# file set) — across a 253-query bench sweep the repeated probes add up
# to whole seconds of driver time for an answer that never changes.
_SPLIT_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, bool]]" = (
    weakref.WeakKeyDictionary()
)


def ensure_min_parallelism(
    df: DataFrame, spark: SparkSession, cache_key: str | None = None
) -> DataFrame:
    """Round-robin repartition a scan that cannot feed the cores.

    Condition is the ACTUAL scan split count (metadata-only for file
    sources) vs the session's default parallelism — at cluster scale a
    real corpus arrives as thousands of splits, the condition is false,
    and NO Exchange enters the plan; it fires only when the source is a
    handful of small files (local fixtures, tail partitions), where the
    shuffled bytes are by construction tiny.  Catalyst still pushes
    filters and column pruning through the round-robin Exchange into the
    scan (plan-guarded in tests/test_plans.py).  ``cache_key`` (the source
    path) memoizes the probe per session — a perf memo only, the plan it
    yields is identical."""
    floor = spark.sparkContext.defaultParallelism
    if cache_key is not None:
        # Key the memo on the source's mtime too (one os.stat, ~µs): a
        # regenerated fixture at the same path invalidates the cached
        # split decision instead of silently reusing a stale one
        # (r11 ADVICE item — perf-only either way, but cheap to get right).
        try:
            cache_key = f"{cache_key}:{os.stat(cache_key).st_mtime_ns}"
        except OSError:
            pass
        per_session = _SPLIT_CACHE.setdefault(spark, {})
        need = per_session.get(cache_key)
        if need is None:
            need = df.rdd.getNumPartitions() < floor
            per_session[cache_key] = need
    else:
        need = df.rdd.getNumPartitions() < floor
    return df.repartition(floor) if need else df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool = True
) -> DataFrame:
    """Load one fixture table, normalizing schema quirks.

    ``parallelize=False`` keeps the raw scan plan (no small-source
    round-robin): replay staging (``streaming.sources.replay_table``)
    chunks the scan in its stored split layout and is its only caller."""
    apply_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if parallelize and name in _COMPUTE_HEAVY:
        df = ensure_min_parallelism(df, spark, cache_key=path)
    if name == "events":
        # Fixture generations vary: ts is either ns-as-long or a native
        # timestamp.  Normalize both to µs TIMESTAMP_NTZ (session tz pinned
        # to UTC makes the TimestampType→NTZ cast an identity on the
        # wall-clock value).
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type in ("long", "integer"):
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register fixture tables as temp views for spark.sql use."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
