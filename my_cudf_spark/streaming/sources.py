"""Streaming sources: fixture replay + Kafka ingest (SURVEY.md §2.12).

The reference ingests Kafka offset ranges into frames
(``/root/reference/python/custreamz/custreamz/kafka.py:82-176`` —
``Consumer.read_gdf(topic, partition, start, end)``) and leaves everything
else to the user.  Here both sources produce a standard streaming DataFrame
that flows through the same operators as batch frames.

No Kafka broker exists in the test environment, so ``kafka_stream`` is
plumbing-only (it builds the reader; ``.load()`` is the caller's step once a
broker is reachable); the tests replay the ``events`` fixture through the
file source instead, which exercises the identical downstream plan.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader

from my_cudf_spark.sources import load_table

# Per-session memo of replay_table's split-count probe (the
# ensure_min_parallelism pattern, r11): ``batch.rdd.getNumPartitions()``
# runs full analysis + physical planning + RDD DAG construction through
# py4j (~tens of ms) on every replay prep — ~33 call sites × ~6 bench
# executions adds whole seconds of driver time for an answer that is a
# pure function of (session, file set).  Keyed by (path, mtime); the
# transforms at every call site are partitioning-preserving projections/
# filters (narrow), so the post-transform split count equals the raw
# scan's — callers adding a repartitioning transform must not rely on
# the fast path (worst case: the memo says 1, the exact-count guard
# below still produces num_chunks files).
import weakref

_REPLAY_SPLIT_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def replay_events(
    spark: SparkSession,
    sf_dir: str,
    num_chunks: int = 8,
    max_files_per_trigger: int = 1,
    work_dir: str | None = None,
) -> tuple[DataFrame, str]:
    """Replay the ``events`` fixture as a bounded file stream
    (:func:`replay_table` on ``event_id`` ranges, with the ts cast
    watermarks need: TimestampType is tz-aware and the session tz is
    pinned UTC, so the cast is an identity on the wall-clock value; the
    ns→µs normalization happens in ``load_table`` before the write)."""
    return replay_table(
        spark,
        sf_dir,
        "events",
        "event_id",
        num_chunks=num_chunks,
        max_files_per_trigger=max_files_per_trigger,
        work_dir=work_dir,
        transform=lambda df: df.withColumn("ts", F.col("ts").cast("timestamp")),
    )


def kafka_batch_read(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    partition: int,
    start: int,
    end: int,
) -> DataFrame:
    """Batch pull of one topic-partition offset range — the exact shape of
    custreamz ``Consumer.read_gdf(topic, partition, start, end)``
    (kafka.py:82-176), expressed as Spark's batch Kafka source."""
    offsets = lambda o: '{"%s":{"%d":%d}}' % (topic, partition, o)
    return (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("assign", '{"%s":[%d]}' % (topic, partition))
        .option("startingOffsets", offsets(start))
        .option("endingOffsets", offsets(end))
        .load()
    )


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    value_schema: str | None = None,
) -> DataStreamReader | DataFrame:
    """Kafka ingest → streaming DataFrame (parity with custreamz
    ``Consumer.read_gdf``, kafka.py:82-176, but continuous rather than
    offset-range pull; offset bookkeeping/checkpointing is Spark's).

    With ``value_schema`` (a DDL string for the JSON payload) the value is
    parsed into columns; otherwise raw (key, value, topic, partition,
    offset, timestamp) pass through.  Returns the configured reader when no
    broker is reachable at build time is fine — ``.load()`` only connects on
    stream start.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    df = reader.load()
    if value_schema is not None:
        df = df.select(
            F.col("key").cast("string").alias("key"),
            F.from_json(F.col("value").cast("string"), value_schema).alias("v"),
            "topic",
            "partition",
            "offset",
            F.col("timestamp").alias("kafka_ts"),
        ).select("key", "v.*", "topic", "partition", "offset", "kafka_ts")
    return df


def replay_documents(
    spark: SparkSession,
    sf_dir: str,
    num_chunks: int = 4,
    max_files_per_trigger: int = 1,
    work_dir: str | None = None,
) -> tuple[DataFrame, str]:
    """Replay the ``documents`` fixture as a bounded file stream (same
    harness shape as :func:`replay_events`): ``num_chunks`` doc_id-ranged
    parquet files opened with ``readStream`` at one file per micro-batch —
    the corpus-as-it-arrives view a streaming curation pipeline consumes."""
    return replay_table(
        spark,
        sf_dir,
        "documents",
        "doc_id",
        num_chunks=num_chunks,
        max_files_per_trigger=max_files_per_trigger,
        work_dir=work_dir,
    )


def _parquet_files(data_dir: str) -> int:
    """Number of parquet part files a write left in ``data_dir``."""
    return sum(
        f.endswith(".parquet") and not f.startswith(("_", "."))
        for f in os.listdir(data_dir)
    )


def replay_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    chunk_key: str,
    num_chunks: int = 4,
    max_files_per_trigger: int = 1,
    work_dir: str | None = None,
    transform=None,
) -> tuple[DataFrame, str]:
    """Replay ANY fixture table as a bounded file stream — the single
    replay harness (:func:`replay_events` / :func:`replay_documents`
    delegate here): EXACTLY ``num_chunks`` parquet files (micro-batch
    boundaries) opened with ``readStream`` at ``max_files_per_trigger``
    files per batch.  Chunk contents are deterministic either way, but the
    two write paths chunk differently: the single-split fast path cuts the
    scan's STORED row order into ``num_chunks`` pieces (same input file →
    same row order → same chunks), while the multi-split path range-
    partitions on ``chunk_key``.  All replay queries are chunking-invariant
    by contract (tested), so the difference never reaches results.
    ``transform`` (DataFrame → DataFrame) applies before the chunked write
    so the streamed schema equals the batch schema.  Returns
    (stream_df, dir); the caller owns cleanup of the dir."""
    batch = load_table(spark, sf_dir, table, parallelize=False)
    if transform is not None:
        batch = transform(batch)
    out_dir = work_dir or tempfile.mkdtemp(prefix=f"{table}_stream_")
    data_dir = os.path.join(out_dir, "data")
    if os.path.exists(data_dir):
        shutil.rmtree(data_dir)
    src_path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        memo_key = f"{src_path}:{os.stat(src_path).st_mtime_ns}"
    except OSError:
        memo_key = src_path
    per_session = _REPLAY_SPLIT_CACHE.setdefault(spark, {})
    single = per_session.get(memo_key)
    if single is None:
        single = batch.rdd.getNumPartitions() == 1
        per_session[memo_key] = single
    if single:
        # Fast chunking for the single-split fixture scan (guide §2.4: the
        # range repartition here cost a sampling pass + a shuffle purely to
        # cut N files): one sequential write task emits ``num_chunks``
        # key-ordered-as-stored files via maxRecordsPerFile — deterministic
        # (same input file → same row order → same chunks) and ~2 jobs
        # cheaper per replay.  The row count is parquet-footer metadata
        # unless a transform changed cardinality (then one count job, which
        # parquet aggregate pushdown keeps metadata-only for pure casts).
        if transform is None and os.path.isfile(src_path):
            import pyarrow.parquet as pq

            n = pq.ParquetFile(src_path).metadata.num_rows
        else:
            # transform may change cardinality; a DIRECTORY source (e.g.
            # the scale-check corpora) has no single footer — one count
            # job, metadata-only under parquet aggregate pushdown.
            n = batch.count()
        per_file = max(1, -(-n // num_chunks))  # ceil
        batch.write.option("maxRecordsPerFile", per_file).parquet(data_dir)
        # Exact-count guard (r11 ADVICE): ceil-sizing can emit FEWER than
        # num_chunks files (n=9, chunks=4 → 3 files), silently shrinking
        # the number of micro-batches the replay proves cross-batch state
        # over; and a transform-free ``n`` read from the raw footer would
        # be wrong if load_table ever gained a row filter.  Counting the
        # files that actually landed catches both — on mismatch, rewrite
        # via the exact range split.
        if _parquet_files(data_dir) != num_chunks:
            shutil.rmtree(data_dir)
            single = False
    if not single:
        # Real multi-split corpus (cluster scale): keep the range shuffle —
        # chunk boundaries then spread the write instead of serializing it.
        batch.repartitionByRange(num_chunks, chunk_key).write.parquet(data_dir)
        # The range split writes no file for an empty range, so a replay
        # with fewer distinct chunk keys (or rows) than chunks still comes
        # up short: fail loudly instead of proving cross-batch state over
        # fewer micro-batches than asked for.
        made = _parquet_files(data_dir)
        if made != num_chunks:
            shutil.rmtree(out_dir if work_dir is None else data_dir, ignore_errors=True)
            raise ValueError(
                f"replay of {table!r} wrote {made} parquet files, expected "
                f"num_chunks={num_chunks}"
            )
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(data_dir)
    )
    return stream, out_dir
