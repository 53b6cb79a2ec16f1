"""Structured Streaming layer tests: batch ↔ stream equivalence.

The streaming operators build the identical plan on batch and streaming
frames (my_cudf_spark/streaming/ops.py); these tests replay the ``events``
fixture through the file stream source and assert the drained streaming
result equals the batch result row-for-row.  The oracle-checked streaming
queries (queries/streaming_queries.py) cover tumbling/dedup/stateful; here
we cover session windows, sliding windows, and the Kafka plumbing contract.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from my_cudf_spark.sources import load_table
from my_cudf_spark.streaming import ops as S
from my_cudf_spark.streaming.sources import kafka_stream, replay_events
from tests.conftest import SF_DIR


def _rows(df, order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


def _batch_events(spark):
    return load_table(spark, SF_DIR, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def test_session_window_stream_equals_batch(spark):
    stream, work_dir = replay_events(spark, SF_DIR, num_chunks=4)
    try:
        args = dict(
            ts_col="ts",
            gap="30 minutes",
            keys=["user_id"],
            aggs=[F.count(F.lit(1)).alias("n_events")],
        )
        streamed = S.run_to_memory(
            S.session_agg(stream, watermark="40 days", **args), "sess_eq"
        )
        batch = S.session_agg(_batch_events(spark), **args)
        order = ["user_id", "session_start"]
        assert _rows(streamed, order) == _rows(batch, order)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def test_sliding_window_stream_equals_batch(spark):
    stream, work_dir = replay_events(spark, SF_DIR, num_chunks=4)
    try:
        args = dict(
            ts_col="ts",
            duration="2 hours",
            slide="1 hour",
            keys=["event_type"],
            aggs=[F.count(F.lit(1)).alias("n_events")],
        )
        streamed = S.run_to_memory(
            S.sliding_agg(stream, watermark="40 days", **args), "slide_eq"
        )
        batch = S.sliding_agg(_batch_events(spark), **args)
        order = ["win_start", "event_type"]
        assert _rows(streamed, order) == _rows(batch, order)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def test_type_counts_stream_equals_batch(spark):
    """type_counts keeps its per-(user, type) counts in Spark's native
    aggregation state: after a 2-chunk replay the final (max) n per pair
    equals the batch groupBy count."""
    from my_cudf_spark.streaming.stateful import type_counts

    batch = _batch_events(spark)
    want = {
        (r["user_id"], r["event_type"]): r["count"]
        for r in batch.groupBy("user_id", "event_type").count().collect()
    }
    stream, work_dir = replay_events(spark, SF_DIR, num_chunks=2)
    try:
        out = S.run_to_memory(
            type_counts(stream, ["user_id"], "event_type"), "tc_eq", "update"
        )
        final = {
            (r["user_id"], r["event_type"]): r["n"]
            for r in out.groupBy("user_id", "event_type")
            .agg(F.max("n").alias("n"))
            .collect()
        }
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    assert final == want


def test_kafka_stream_contract(spark):
    """The Kafka reader is configuration-only plumbing; without the
    spark-sql-kafka connector jar (not shipped in this environment) it must
    fail fast with the standard DATA_SOURCE_NOT_FOUND error — and with the
    jar present it returns a streaming frame.  Either way the failure mode
    is at source construction, never silently downstream."""
    try:
        df = kafka_stream(spark, "localhost:9092", "events", value_schema="k BIGINT")
    except Exception as e:  # connector jar absent here
        assert "kafka" in str(e).lower()
    else:
        assert df.isStreaming


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_KAFKA"),
    reason="live Kafka smoke: set SPARK_GRAFT_KAFKA=host:port (needs the "
    "spark-sql-kafka connector on the classpath and a reachable broker)",
)
def test_kafka_live_roundtrip(spark):
    """End-to-end against a real broker: write one batch to a topic, pull
    it back with the custreamz-shaped offset-range read
    (kafka_batch_read), and check payload fidelity."""
    import uuid

    from my_cudf_spark.streaming.sources import kafka_batch_read

    servers = os.environ["SPARK_GRAFT_KAFKA"]
    topic = f"spark_graft_smoke_{uuid.uuid4().hex[:8]}"
    src = spark.createDataFrame(
        [(str(i), f'{{"k":{i}}}') for i in range(10)], "key string, value string"
    )
    (src.write.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("topic", topic).save())
    got = kafka_batch_read(spark, servers, topic, partition=0, start=0, end=10)
    vals = sorted(r["value"].decode() for r in got.select("value").collect())
    assert vals == sorted(f'{{"k":{i}}}' for i in range(10))


def test_heavy_hitters_stream_equals_batch(spark):
    """Frequent-items sketch final snapshot == exact batch twin when
    capacity covers the distinct items (fixture: ~6 event types, capacity
    16)."""
    from pyspark.sql import Window

    from my_cudf_spark.streaming.stateful import heavy_hitters

    stream, work_dir = replay_events(spark, SF_DIR, num_chunks=4)
    try:
        tops = heavy_hitters(stream, ["user_id"], "event_type", k=3, capacity=16)
        drained = S.run_to_memory(tops, "hh_eq", output_mode="update")
        w = Window.partitionBy("user_id")
        final = (
            drained.withColumn("__mx", F.max("n_seen").over(w))
            .filter(F.col("n_seen") == F.col("__mx"))
            .drop("__mx")
        )
        batch = heavy_hitters(
            _batch_events(spark), ["user_id"], "event_type", k=3, capacity=16
        )
        order = ["user_id", "rank"]
        assert _rows(final, order) == _rows(batch, order)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def test_running_totals_stream_equals_batch(spark):
    from pyspark.sql import Window

    from my_cudf_spark.streaming.stateful import running_totals

    stream, work_dir = replay_events(spark, SF_DIR, num_chunks=4)
    try:
        totals = running_totals(stream, ["user_id"], "value")
        drained = S.run_to_memory(totals, "rt_eq", output_mode="update")
        w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
        final = (
            drained.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        batch = running_totals(_batch_events(spark), ["user_id"], "value")
        got = [(r[0], r[1], round(r[2], 4)) for r in final.orderBy("user_id").collect()]
        want = [(r[0], r[1], round(r[2], 4)) for r in batch.orderBy("user_id").collect()]
        assert got == want
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def test_heavy_hitters_native_item_dtype_and_null_batch(spark):
    """Three contracts beyond the fixture query: (a) a non-string item
    column keeps its NATIVE dtype through streaming state and output
    (schema == batch twin's), (b) a key whose FIRST micro-batch holds only
    NULL items still converges to the batch answer once real items arrive,
    (c) a key that sees exactly ``capacity`` distinct items across the
    micro-batches gets exact counts — the premise the stream_topk_replay
    oracle relies on — with the count tie (items 3 and 4) broken by item
    ascending."""
    import tempfile
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Window

    from my_cudf_spark.streaming.stateful import heavy_hitters

    work_dir = tempfile.mkdtemp(prefix="hh_int_stream_")
    try:
        chunks = [
            {"user_id": ["u1", "u1", "u1", "u2", "u2"], "item": [1, 1, 2, None, None]},
            {"user_id": ["u1", "u1", "u1", "u2"], "item": [2, 3, 4, 7]},
        ]
        now = time.time()
        for i, c in enumerate(chunks):
            fp = os.path.join(work_dir, f"chunk{i}.parquet")
            pq.write_table(
                pa.table(
                    {
                        "user_id": pa.array(c["user_id"], pa.string()),
                        "item": pa.array(c["item"], pa.int64()),
                    }
                ),
                fp,
            )
            # File stream source orders by modification time: pin it.
            os.utime(fp, (now + i, now + i))
        stream = (
            spark.readStream.schema("user_id string, item bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(work_dir)
        )
        tops = heavy_hitters(stream, ["user_id"], "item", k=3, capacity=4)
        drained = S.run_to_memory(tops, "hh_int_eq", output_mode="update")
        assert dict(drained.dtypes)["item"] == "bigint"
        w = Window.partitionBy("user_id", "rank").orderBy(
            F.desc("n_seen"), F.desc("n"), F.asc("item")
        )
        final = (
            drained.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        batch_rows = [
            ("u1", 1), ("u1", 1), ("u1", 2), ("u2", None), ("u2", None),
            ("u1", 2), ("u1", 3), ("u1", 4), ("u2", 7),
        ]
        batch = heavy_hitters(
            spark.createDataFrame(batch_rows, "user_id string, item bigint"),
            ["user_id"],
            "item",
            k=3,
            capacity=4,
        )
        order = ["user_id", "rank"]
        assert _rows(final, order) == _rows(batch, order)
        assert _rows(final, order) == [
            ("u1", 1, 1, 2, 6), ("u1", 2, 2, 2, 6), ("u1", 3, 3, 1, 6),
            ("u2", 1, 7, 1, 1),
        ]
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def test_latest_state_stream_equals_batch(spark):
    """Streaming CDC compaction (latest_state): the final per-key snapshot
    across micro-batches equals the batch keep-latest twin, tombstones
    included — arrival-order independence of max-seq state."""
    import tempfile
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Window

    from my_cudf_spark.streaming.stateful import latest_state

    work_dir = tempfile.mkdtemp(prefix="cdc_stream_")
    try:
        # seq arrives OUT of order across chunks: k=1's latest (seq 9)
        # lands in chunk 0, its stale seq 5 in chunk 1
        chunks = [
            {"k": [1, 2], "seq": [9, 1], "op": ["U", "U"], "v": [90.0, 10.0]},
            {"k": [1, 2, 3], "seq": [5, 2, 7], "op": ["U", "D", "U"],
             "v": [50.0, None, 70.0]},
        ]
        now = time.time()
        for i, c in enumerate(chunks):
            fp = os.path.join(work_dir, f"chunk{i}.parquet")
            pq.write_table(
                pa.table(
                    {
                        "k": pa.array(c["k"], pa.int64()),
                        "seq": pa.array(c["seq"], pa.int64()),
                        "op": pa.array(c["op"], pa.string()),
                        "v": pa.array(c["v"], pa.float64()),
                    }
                ),
                fp,
            )
            os.utime(fp, (now + i, now + i))
        stream = (
            spark.readStream.schema("k long, seq long, op string, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(work_dir)
        )
        drained = S.run_to_memory(
            latest_state(stream, ["k"], "seq", "op", ["v"]),
            "cdc_eq",
            output_mode="update",
        )
        w = Window.partitionBy("k").orderBy(F.desc("seq"))
        final = (
            drained.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        batch_df = spark.createDataFrame(
            [(1, 9, "U", 90.0), (1, 5, "U", 50.0), (2, 1, "U", 10.0),
             (2, 2, "D", None), (3, 7, "U", 70.0)],
            "k long, seq long, op string, v double",
        )
        batch = latest_state(batch_df, ["k"], "seq", "op", ["v"])
        assert _rows(final, "k") == _rows(batch, "k")
        assert _rows(final, "k") == [
            (1, 9, False, 90.0),
            (2, 2, True, None),
            (3, 7, False, 70.0),
        ]
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def test_heavy_hitters_validates_args(spark):
    from my_cudf_spark.streaming.stateful import heavy_hitters

    with pytest.raises(ValueError, match="capacity"):
        heavy_hitters(_batch_events(spark), ["user_id"], "event_type", k=5, capacity=3)


def _write_chunks(work_dir, schema: "pa.Schema", chunks, first: int = 0):
    """Write each chunk dict as one parquet file (numbered from ``first``)
    with ascending mtimes so maxFilesPerTrigger=1 replays them in order."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    now = time.time()
    for i, c in enumerate(chunks, first):
        fp = os.path.join(work_dir, f"chunk{i}.parquet")
        pq.write_table(pa.table(c, schema=schema), fp)
        os.utime(fp, (now + i, now + i))


def _replay_chunks(spark, ddl: str, schema: "pa.Schema", chunks):
    """Stream ``chunks`` one file per micro-batch; returns (stream, dir)."""
    import tempfile

    work_dir = tempfile.mkdtemp(prefix="chunks_stream_")
    _write_chunks(work_dir, schema, chunks)
    stream = (
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(work_dir)
    )
    return stream, work_dir


def test_bucketed_state_null_keys(spark):
    """NULL key values must flow through the native aggregation state of
    latest_state / running_totals / heavy_hitters / quantile_digest as
    their own group, equal to the batch twin."""
    import pyarrow as pa
    from pyspark.sql import Window

    from my_cudf_spark.streaming.stateful import (
        heavy_hitters,
        latest_state,
        running_totals,
    )

    schema = pa.schema(
        [("k", pa.int64()), ("seq", pa.int64()), ("op", pa.string()),
         ("v", pa.float64()), ("item", pa.string())]
    )
    chunks = [
        {"k": [1, None], "seq": [1, 2], "op": ["U", "U"],
         "v": [10.0, 5.0], "item": ["a", "a"]},
        {"k": [None, 1, None], "seq": [4, 3, 9], "op": ["U", "U", "D"],
         "v": [7.0, 30.0, None], "item": ["b", "a", "b"]},
    ]
    batch_df = spark.createDataFrame(
        [(1, 1, "U", 10.0, "a"), (None, 2, "U", 5.0, "a"),
         (None, 4, "U", 7.0, "b"), (1, 3, "U", 30.0, "a"),
         (None, 9, "D", None, "b")],
        "k long, seq long, op string, v double, item string",
    )

    def _replay():
        return _replay_chunks(
            spark, "k long, seq long, op string, v double, item string", schema, chunks
        )

    # latest_state: NULL key keeps its own max-seq state (tombstone at 9)
    stream, wd = _replay()
    try:
        drained = S.run_to_memory(
            latest_state(stream, ["k"], "seq", "op", ["v"]),
            "nullkey_cdc", output_mode="update",
        )
        w = Window.partitionBy("k").orderBy(F.desc("seq"))
        final = (
            drained.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn")
        )
        batch = latest_state(batch_df, ["k"], "seq", "op", ["v"])
        assert _rows(final, "k") == _rows(batch, "k")
        assert _rows(final, "k") == [(None, 9, True, None), (1, 3, False, 30.0)]
    finally:
        shutil.rmtree(wd, ignore_errors=True)

    # running_totals: NULL key accumulates like any other key
    stream, wd = _replay()
    try:
        drained = S.run_to_memory(
            running_totals(stream, ["k"], "v"),
            "nullkey_rt", output_mode="update",
        )
        w = Window.partitionBy("k").orderBy(F.desc("n_events"))
        final = (
            drained.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn")
        )
        batch = running_totals(batch_df, ["k"], "v")
        assert _rows(final, "k") == _rows(batch, "k")
        assert _rows(final, "k") == [(None, 3, 12.0), (1, 2, 40.0)]
    finally:
        shutil.rmtree(wd, ignore_errors=True)

    # heavy_hitters: NULL key carries its own frequent-items sketch
    stream, wd = _replay()
    try:
        drained = S.run_to_memory(
            heavy_hitters(stream, ["k"], "item", k=2, capacity=8),
            "nullkey_hh", output_mode="update",
        )
        w = Window.partitionBy("k", "rank").orderBy(
            F.desc("n_seen"), F.desc("n"), F.asc("item")
        )
        final = (
            drained.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn")
        )
        batch = heavy_hitters(batch_df, ["k"], "item", k=2, capacity=8)
        order = ["k", "rank"]
        assert _rows(final, order) == _rows(batch, order)
    finally:
        shutil.rmtree(wd, ignore_errors=True)

    # quantile_digest: NULL key keeps its own quantile summary across
    # batches
    from my_cudf_spark.streaming.quantiles import quantile_digest

    stream, wd = _replay()
    try:
        drained = S.run_to_memory(
            quantile_digest(stream, ["k"], "v", qs=[0.5]),
            "nullkey_qd", output_mode="update",
        )
        w = Window.partitionBy("k").orderBy(F.desc("n_seen"))
        final = (
            drained.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn")
        )
        batch = quantile_digest(batch_df, ["k"], "v", qs=[0.5])
        assert _rows(final, "k") == _rows(batch, "k")
        # both keys span two batches, so a dropped cross-batch merge would
        # show n_seen == 1; percentile_approx returns a data point, so the
        # median of two points is the lower one
        assert _rows(final, "k") == [(None, 2, 5.0), (1, 2, 10.0)]
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_quantile_digest_stream_within_rank_window(spark):
    """The streamed final snapshot counts every non-null value (n_seen ==
    the batch twin's) and each estimate lies inside the ±0.02 exact
    ``percentile`` rank window — the stream_quantile_replay contract."""
    from pyspark.sql import Window

    from my_cudf_spark.streaming.quantiles import quantile_digest

    stream, work_dir = replay_events(spark, SF_DIR, num_chunks=4)
    try:
        digs = quantile_digest(stream, ["event_type"], "value", qs=[0.5, 0.9])
        drained = S.run_to_memory(digs, "qdig_win", output_mode="update")
        w = Window.partitionBy("event_type").orderBy(F.desc("n_seen"))
        final = _rows(
            drained.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn"),
            ["event_type"],
        )
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    batch = quantile_digest(_batch_events(spark), ["event_type"], "value", qs=[0.5, 0.9])
    exact = {r[0]: r for r in batch.collect()}
    eps_q = (
        _batch_events(spark)
        .filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(F.expr("percentile(value, array(0.48D, 0.52D, 0.88D, 0.92D))").alias("b"))
    )
    bracket = {r[0]: r[1] for r in eps_q.collect()}
    assert {r[0] for r in final} == set(exact)
    for et, n_seen, q50, q90 in final:
        assert n_seen == exact[et]["n_seen"]
        lo50, hi50, lo90, hi90 = bracket[et]
        assert lo50 <= q50 <= hi50
        assert lo90 <= q90 <= hi90


def test_quantile_digest_validates_args(spark):
    import pytest as _pytest

    from my_cudf_spark.streaming.quantiles import q_col_names, quantile_digest

    with _pytest.raises(ValueError, match="fractions"):
        quantile_digest(_batch_events(spark), ["event_type"], "value", qs=[1.5])
    with _pytest.raises(ValueError, match="collide"):
        q_col_names([0.5004, 0.50042])


def test_stream_semantic_dedup_equals_batch_twin(spark):
    """Replayed embeddings through the incremental dedup == the batch
    within-cell EXISTS rule, row for row (the r6 stream==batch gate)."""
    from pyspark.sql import Window

    from my_cudf_spark.streaming.semdedup import (
        cell_assign_expr,
        seed_centroid_rows,
        stream_semantic_dedup,
    )
    from my_cudf_spark.streaming.sources import replay_table

    as_double = lambda df: df.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    batch = as_double(load_table(spark, SF_DIR, "embeddings"))
    cents = seed_centroid_rows(batch, "vec_id", "embedding", 16)
    assign = cell_assign_expr(cents, "embedding")

    stream, work_dir = replay_table(
        spark, SF_DIR, "embeddings", "vec_id", transform=as_double
    )
    try:
        drained = S.run_to_memory(
            stream_semantic_dedup(
                stream.withColumn("cell", assign),
                "vec_id", "embedding", "cell", 0.4, buckets=4,
            ),
            "semdd_eq", output_mode="update",
        )
        w = Window.partitionBy("id").orderBy(F.desc("ver"))
        final = (
            drained.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("cell", "id", "keep")
        )
        twin = stream_semantic_dedup(
            batch.withColumn("cell", assign),
            "vec_id", "embedding", "cell", 0.4,
        ).select("cell", "id", "keep")
        assert _rows(final, ["id"]) == _rows(twin, ["id"])
        # dedup is non-trivial on the fixture
        kept = sum(1 for r in _rows(final, ["id"]) if r[2])
        assert 0 < kept < final.count()
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def test_stream_semantic_dedup_revokes_on_late_lower_id(spark):
    """Arrival-order independence: a lower-id near-duplicate arriving in a
    LATER micro-batch revokes the earlier keep — the final snapshot equals
    the id-ordered rule regardless of replay order."""
    import tempfile

    import pyarrow as pa
    from pyspark.sql import Window

    from my_cudf_spark.streaming.semdedup import stream_semantic_dedup

    a = [1.0, 0.0, 0.0, 0.0]
    a2 = [0.999, 0.01, 0.0, 0.0]        # cos(a, a2) ~ 1
    far = [0.0, 1.0, 0.0, 0.0]          # orthogonal
    schema = pa.schema(
        [("vec_id", pa.int64()), ("cell", pa.int32()),
         ("embedding", pa.list_(pa.float64()))]
    )
    chunks = [
        {"vec_id": [10, 7], "cell": [0, 0], "embedding": [a, far]},
        {"vec_id": [5], "cell": [0], "embedding": [a2]},   # late LOWER id
    ]
    work_dir = tempfile.mkdtemp(prefix="semdd_revoke_")
    _write_chunks(work_dir, schema, chunks)
    try:
        stream = (
            spark.readStream.schema("vec_id long, cell int, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(work_dir)
        )
        drained = S.run_to_memory(
            stream_semantic_dedup(stream, "vec_id", "embedding", "cell", 0.9, buckets=2),
            "semdd_revoke", output_mode="update",
        )
        w = Window.partitionBy("id").orderBy(F.desc("ver"))
        final = (
            drained.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("id", "keep")
        )
        assert _rows(final, ["id"]) == [(5, True), (7, True), (10, False)]
        # the revocation itself was emitted: id 10 seen keep=True at ver 1,
        # then keep=False at ver 2
        updates = {(r["id"], r["ver"]): r["keep"] for r in drained.collect()}
        assert updates[(10, 1)] is True and updates[(10, 2)] is False
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def test_stream_phash_dedup_equals_batch_twin(spark):
    """Replayed document images through the incremental phash dedup == the
    batch lower-id-wins pair rule, row for row (the dedup-matrix
    image×stream gate)."""
    from my_cudf_spark.operators import multimodal as M
    from my_cudf_spark.streaming.phash import stream_phash_dedup
    from my_cudf_spark.streaming.sources import replay_documents

    batch_sigs = M.dhash_signatures(
        M.attach_payload(load_table(spark, SF_DIR, "documents")), "doc_id"
    )
    twin = stream_phash_dedup(batch_sigs, "doc_id", "sig", max_hamming=11)

    stream, work_dir = replay_documents(spark, SF_DIR, num_chunks=4)
    try:
        drained = S.run_to_memory(
            stream_phash_dedup(
                M.dhash_signatures(M.attach_payload(stream), "doc_id"),
                "doc_id", "sig", max_hamming=11, buckets=4,
            ),
            "phash_eq", output_mode="update",
        )
        final = drained.groupBy("id").agg(F.bool_and("keep").alias("keep"))
        assert _rows(final, ["id"]) == _rows(twin, ["id"])
        kept = sum(1 for r in _rows(final, ["id"]) if r[1])
        n = final.count()
        assert 0 < kept <= n and n == 500
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def test_stream_phash_dedup_revokes_on_late_lower_id(spark):
    """Arrival-order independence: a lower-id near-duplicate signature in a
    LATER micro-batch revokes the earlier keep; unrelated signatures stay
    kept.  Planted 60-bit signatures make the hamming structure exact."""
    import tempfile

    import pyarrow as pa

    from my_cudf_spark.streaming.phash import stream_phash_dedup

    base = (1 << 59) | (1 << 31) | 0b1011
    near = base ^ 0b0110          # hamming 2 from base
    far = ((1 << 60) - 1) ^ base  # hamming 60 from base
    schema = pa.schema([("doc_id", pa.int64()), ("sig", pa.int64())])
    chunks = [
        {"doc_id": [10, 7], "sig": [base, far]},
        {"doc_id": [5], "sig": [near]},  # late LOWER id within hamming 3
    ]
    work_dir = tempfile.mkdtemp(prefix="phash_revoke_")
    _write_chunks(work_dir, schema, chunks)
    try:
        stream = (
            spark.readStream.schema("doc_id long, sig long")
            .option("maxFilesPerTrigger", 1)
            .parquet(work_dir)
        )
        drained = S.run_to_memory(
            stream_phash_dedup(stream, "doc_id", "sig", max_hamming=3, buckets=2),
            "phash_revoke", output_mode="update",
        )
        final = drained.groupBy("id").agg(F.bool_and("keep").alias("keep"))
        assert _rows(final, ["id"]) == [(5, True), (7, True), (10, False)]
        # the revocation itself was emitted: id 10 voted keep=True by all
        # its band buckets on arrival, then keep=False after id 5 arrived
        votes = [(r["id"], r["keep"]) for r in drained.collect()]
        assert (10, True) in votes and (10, False) in votes
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def test_stream_phash_dedup_banding_args(spark):
    import pytest as _pytest

    from my_cudf_spark.streaming.phash import _band_offsets, _popcount64
    import numpy as np

    with _pytest.raises(ValueError, match="bands"):
        _band_offsets(60, 60)
    offs = _band_offsets(11, 60)
    assert len(offs) == 13 and offs[0] == 0 and offs[-1] == 60
    assert all(offs[i + 1] - offs[i] == 5 for i in range(12))
    xs = np.array([0, 1, 3, (1 << 60) - 1, 0x5555555555555555], dtype=np.int64)
    assert _popcount64(xs).tolist() == [0, 1, 2, 60, 32]



def test_attach_minhash_hand_computed(spark):
    """Per-row Column-expr minhash lanes closed by hand: hv = first 28
    md5 bits, lane = min((hv*a + b) mod 2^31-1)."""
    import hashlib

    import pytest as _pytest

    from my_cudf_spark.streaming.minhashdd import MERSENNE_PRIME31, attach_minhash

    A = [3, 57, 911, 12345]
    B = [7, 0, 41, 999983]
    df = spark.createDataFrame(
        [(1, ["x", "y", "zz"]), (2, ["zz"]), (3, [])],
        "id long, toks array<string>",
    )
    got = {
        r["id"]: r["sig"]
        for r in attach_minhash(df, "toks", A, B).select("id", "sig").collect()
    }
    hv = lambda t: int(hashlib.md5(t.encode()).hexdigest()[:7], 16)
    lane = lambda toks, a, b: min((hv(t) * a + b) % MERSENNE_PRIME31 for t in toks)
    assert got[1] == [lane(["x", "y", "zz"], a, b) for a, b in zip(A, B)]
    assert got[2] == [lane(["zz"], a, b) for a, b in zip(A, B)]
    assert got[3] is None  # empty token set -> NULL signature
    with _pytest.raises(ValueError, match="lane parameters"):
        attach_minhash(df, "toks", [1 << 32], [0])


def test_stream_lsh_dedup_equals_batch_twin(spark):
    """Replayed audio landmarks through the streaming LSH dedup == the
    batch banded-join rule, row for row (the audio×stream dedup gate)."""
    from my_cudf_spark.operators import multimodal as M
    from my_cudf_spark.queries.streaming_queries import (
        _ADD_A,
        _ADD_B,
        _ADD_BANDS,
        _ADD_MINMATCH,
        _ADD_ROWS,
    )
    from my_cudf_spark.streaming.minhashdd import attach_minhash, stream_lsh_dedup
    from my_cudf_spark.streaming.sources import replay_documents

    kw = dict(
        bands=_ADD_BANDS, rows=_ADD_ROWS, min_matches=_ADD_MINMATCH, buckets=4
    )
    batch_sigs = attach_minhash(
        M.audio_landmarks(
            M.attach_payload(load_table(spark, SF_DIR, "documents")), "doc_id"
        ),
        "lms", _ADD_A, _ADD_B,
    )
    twin = stream_lsh_dedup(batch_sigs, "doc_id", "sig", **kw)

    stream, work_dir = replay_documents(spark, SF_DIR, num_chunks=4)
    try:
        sigged = attach_minhash(
            M.audio_landmarks(M.attach_payload(stream), "doc_id"),
            "lms", _ADD_A, _ADD_B,
        )
        drained = S.run_to_memory(
            stream_lsh_dedup(sigged, "doc_id", "sig", **kw),
            "audiodd_eq", output_mode="update",
        )
        final = drained.groupBy("id").agg(F.bool_and("keep").alias("keep"))
        assert _rows(final, ["id"]) == _rows(twin, ["id"])
        kept = sum(1 for r in _rows(final, ["id"]) if r[1])
        n = final.count()
        assert 0 < kept < n == 500  # organic near-dups exist
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def test_stream_lsh_dedup_revokes_on_late_lower_id(spark):
    """A late-arriving lower-id clip with an identical signature revokes
    the earlier keep; an unrelated signature stays kept."""
    import tempfile

    import pyarrow as pa

    from my_cudf_spark.streaming.minhashdd import stream_lsh_dedup

    sig_a = list(range(100, 108))  # 8 lanes (2 bands x 4)
    sig_far = list(range(900, 908))
    schema = pa.schema([("doc_id", pa.int64()), ("sig", pa.list_(pa.int64()))])
    chunks = [
        {"doc_id": [10, 7], "sig": [sig_a, sig_far]},
        {"doc_id": [5], "sig": [sig_a]},  # late LOWER id, full match
    ]
    work_dir = tempfile.mkdtemp(prefix="lsh_revoke_")
    _write_chunks(work_dir, schema, chunks)
    try:
        stream = (
            spark.readStream.schema("doc_id long, sig array<long>")
            .option("maxFilesPerTrigger", 1)
            .parquet(work_dir)
        )
        drained = S.run_to_memory(
            stream_lsh_dedup(
                stream, "doc_id", "sig", bands=2, rows=4, min_matches=6, buckets=2
            ),
            "lsh_revoke", output_mode="update",
        )
        final = drained.groupBy("id").agg(F.bool_and("keep").alias("keep"))
        assert _rows(final, ["id"]) == [(5, True), (7, True), (10, False)]
        votes = [(r["id"], r["keep"]) for r in drained.collect()]
        assert (10, True) in votes and (10, False) in votes
        import pytest as _pytest

        from my_cudf_spark.streaming.minhashdd import stream_lsh_dedup as sld

        with _pytest.raises(ValueError, match="min_matches"):
            sld(stream, "doc_id", "sig", bands=2, rows=4, min_matches=9)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def test_weighted_reservoir_stream_equals_batch(spark):
    """Final per-key reservoir across 4 micro-batches == the batch draw
    over the whole fixture (the k-smallest-priorities fold is
    order-independent, so replay chunking cannot change the result)."""
    from pyspark.sql import Window

    from my_cudf_spark.streaming.reservoir import weighted_reservoir

    stream, work_dir = replay_events(spark, SF_DIR, num_chunks=4)
    try:
        res = weighted_reservoir(stream, ["event_type"], "event_id", "value", k=5)
        drained = S.run_to_memory(res, "res_eq", output_mode="update")
        w = Window.partitionBy("event_type", "rank").orderBy(
            F.desc("n_seen"), F.asc("priority"), F.asc("item")
        )
        final = (
            drained.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        batch = weighted_reservoir(
            _batch_events(spark), ["event_type"], "event_id", "value", k=5
        )
        order = ["event_type", "rank"]
        assert _rows(final, order) == _rows(batch, order)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def test_weighted_reservoir_chunking_invariant(spark):
    """2-chunk and 4-chunk replays land on identical final reservoirs."""
    from pyspark.sql import Window

    from my_cudf_spark.streaming.reservoir import weighted_reservoir

    def final(n_chunks, tag):
        stream, work_dir = replay_events(spark, SF_DIR, num_chunks=n_chunks)
        try:
            res = weighted_reservoir(
                stream, ["event_type"], "event_id", "value", k=3
            )
            drained = S.run_to_memory(res, tag, output_mode="update")
            w = Window.partitionBy("event_type", "rank").orderBy(
                F.desc("n_seen"), F.asc("priority"), F.asc("item")
            )
            return _rows(
                drained.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn"),
                ["event_type", "rank"],
            )
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)

    assert final(2, "res_c2") == final(4, "res_c4")


def test_weighted_reservoir_drops_weightless_rows(spark):
    """NULL/zero/negative weights carry no mass: they never enter the
    reservoir and never advance n_seen."""
    from my_cudf_spark.streaming.reservoir import weighted_reservoir

    rows = [(1, "a", 10.0), (2, "a", None), (3, "a", 0.0), (4, "a", -5.0)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = weighted_reservoir(df, ["event_type"], "event_id", "value", k=5).collect()
    assert len(out) == 1
    assert out[0]["item"] == 1 and out[0]["n_seen"] == 1


def test_weighted_reservoir_bucketed_null_keys(spark):
    """NULL group keys keep their own bucketed reservoir, and the drained
    stream equals the batch draw (the nullable-dtype state contract)."""
    import tempfile

    import pyarrow as pa
    from pyspark.sql import Window

    from my_cudf_spark.streaming.reservoir import weighted_reservoir

    schema = pa.schema(
        [("k", pa.int64()), ("event_id", pa.int64()), ("value", pa.float64())]
    )
    chunks = [
        {"k": [1, None, 1], "event_id": [1, 2, 3], "value": [5.0, 2.0, 9.0]},
        {"k": [None, None, 1], "event_id": [4, 5, 6], "value": [1.0, None, 4.0]},
    ]

    def final(tag):
        work_dir = tempfile.mkdtemp(prefix="res_nullkey_")
        _write_chunks(work_dir, schema, chunks)
        stream = (
            spark.readStream.schema("k long, event_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(work_dir)
        )
        try:
            res = weighted_reservoir(stream, ["k"], "event_id", "value", k=2, buckets=2)
            drained = S.run_to_memory(res, tag, output_mode="update")
            w = Window.partitionBy("k", "rank").orderBy(
                F.desc("n_seen"), F.asc("priority"), F.asc("item")
            )
            return _rows(
                drained.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn"),
                ["k", "rank"],
            )
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)

    rows = final("res_nk_bk")
    # NULL key kept its own reservoir; event 5 (NULL weight) carried no mass
    null_rows = [r for r in rows if r[0] is None]
    assert {r[2] for r in null_rows} == {2, 4} and null_rows[0][4] == 2

    # Batch-path oracle: the eqNullSafe n_seen join must keep the NULL-keyed
    # reservoir (a plain equi-join drops it), landing on the stream's state.
    flat = {"k": [], "event_id": [], "value": []}
    for c in chunks:
        for col in flat:
            flat[col].extend(c[col])
    batch = weighted_reservoir(
        spark.createDataFrame(
            list(zip(flat["k"], flat["event_id"], flat["value"])),
            "k long, event_id long, value double",
        ),
        ["k"],
        "event_id",
        "value",
        k=2,
    )
    assert _rows(batch, ["k", "rank"]) == rows


def _substr_docs():
    """Synthetic corpus with planted shared 12-token passages: the word
    stream is unique per doc except the planted passage."""
    passage = " ".join(f"shared{i}" for i in range(14))  # 14 > min_len 12
    docs = []
    for i in range(8):
        filler = " ".join(f"w{i}x{j}" for j in range(20))
        text = filler if i % 3 else f"{filler} {passage}"
        docs.append((i, text))  # docs 0, 3, 6 share the passage
    return docs


def _substr_final(spark, chunks, tag, min_len=12, max_df=8):
    import tempfile

    import pyarrow as pa

    from my_cudf_spark.streaming.substring import stream_substring_dedup

    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    work_dir = tempfile.mkdtemp(prefix="substr_")
    _write_chunks(
        work_dir, schema,
        [{"doc_id": [d[0] for d in c], "text": [d[1] for d in c]} for c in chunks],
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(work_dir)
    )
    try:
        toked = stream.withColumn("toks", F.split(F.trim("text"), " "))
        v = stream_substring_dedup(
            toked, "doc_id", "toks", min_len=min_len, max_df=max_df, buckets=4
        )
        drained = S.run_to_memory(v, tag, output_mode="update")
        return {
            r["id"]: r["keep"]
            for r in drained.groupBy("id")
            .agg(F.bool_and("keep").alias("keep"))
            .collect()
        }
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def test_stream_substring_equals_batch(spark):
    """Chunked replay lands on the batch leg's posting-rank rule, under
    any chunking."""
    from my_cudf_spark.streaming.substring import stream_substring_dedup

    docs = _substr_docs()
    df = spark.createDataFrame(docs, "doc_id long, text string").withColumn(
        "toks", F.split(F.trim("text"), " ")
    )
    batch = {
        r["id"]: r["keep"]
        for r in stream_substring_dedup(
            df, "doc_id", "toks", min_len=12, max_df=8, buckets=4
        ).collect()
    }
    assert batch[0] and not batch[3] and not batch[6]  # lower id wins
    assert all(batch[i] for i in (1, 2, 4, 5, 7))      # unique docs kept
    for nc, tag in ((1, "sub_eq1"), (3, "sub_eq3")):
        chunks = [docs[i::nc] for i in range(nc)] if nc > 1 else [docs]
        # re-sort chunk contents by id (id-ordered ingest within chunks)
        chunks = [sorted(c) for c in chunks]
        assert _substr_final(spark, chunks, tag) == batch


def test_stream_substring_revocation(spark):
    """A late-arriving LOWER-id holder of a passage revokes the earlier
    keep of the higher id (keep flags only flip true -> false)."""
    docs = dict(_substr_docs())
    late_low = [(0, docs[0])]                   # doc 0 holds the passage
    first = sorted((i, t) for i, t in docs.items() if i != 0)
    out = _substr_final(spark, [first, late_low], "sub_revoke")
    # during batch 1, doc 3 was the lowest passage holder and kept; doc 0
    # arriving late must flip nothing for itself and revoke doc 3
    assert out[0] is True and out[3] is False and out[6] is False


def test_stream_substring_df_cap_freezes_shingle(spark):
    """Once a shingle's posting rank crosses max_df it stops seeding:
    later holders of ONLY that passage are kept (boilerplate immunity),
    and its postings leave state."""
    passage = " ".join(f"bp{i}" for i in range(12))
    docs = [
        (i, f"{' '.join(f'u{i}q{j}' for j in range(15))} {passage}")
        for i in range(6)
    ]
    out = _substr_final(spark, [sorted(docs)], "sub_cap", max_df=3)
    # ranks 1..3 seed: docs 1, 2 dropped by doc 0; rank > 3 (docs 3, 4, 5)
    # arrive after the freeze and are kept
    assert out[0] and not out[1] and not out[2]
    assert out[3] and out[4] and out[5]


# ---------------------------------------------------------------------------
# streaming point-in-time enrichment (streaming/pit.py)
# ---------------------------------------------------------------------------


def _pit_final(drained):
    final = drained.groupBy("event_id").agg(
        F.max_by(
            F.struct("view_value", "n_click"), "version"
        ).alias("s")
    )
    return sorted(
        (r["event_id"], r["s"]["view_value"], r["s"]["n_click"])
        for r in final.collect()
    )


def test_stream_pit_enrich_equals_batch_under_chunkings(spark):
    """Final max-version enrichment == batch pit_join twin under two
    different micro-batch chunkings (arrival-order independence)."""
    from my_cudf_spark.streaming.pit import stream_pit_enrich
    from my_cudf_spark.streaming.sources import replay_events

    batch = load_table(spark, SF_DIR, "events")
    want_df = stream_pit_enrich(
        batch.withColumn("ts", F.col("ts").cast("timestamp")),
        key_col="user_id", ts_col="ts", kind_col="event_type",
        id_col="event_id", value_col="value",
        spine_kind="purchase", value_kinds=["view"], count_kinds=["click"],
    )
    want = sorted(
        (r["event_id"], r["view_value"], r["n_click"])
        for r in want_df.collect()
    )
    for chunks in (2, 5):
        stream, work_dir = replay_events(spark, SF_DIR, num_chunks=chunks)
        try:
            drained = S.run_to_memory(
                stream_pit_enrich(
                    stream, key_col="user_id", ts_col="ts",
                    kind_col="event_type", id_col="event_id",
                    value_col="value", spine_kind="purchase",
                    value_kinds=["view"], count_kinds=["click"],
                ),
                f"pit_eq_{chunks}", output_mode="update",
            )
            assert _pit_final(drained) == want, f"chunks={chunks}"
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)


def test_stream_pit_enrich_late_feature_corrects(spark):
    """A feature row arriving AFTER the spine row it should inform (its
    event time is earlier) triggers a corrected re-emission; the final
    snapshot reflects full history."""
    import tempfile

    import pandas as pd
    import pyarrow as pa

    from my_cudf_spark.streaming.pit import stream_pit_enrich

    schema = pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("user_id", pa.int64()), ("event_type", pa.string()),
         ("value", pa.float64())]
    )
    t = lambda s: pd.Timestamp(f"2026-01-01 00:00:{s:02d}")
    chunks = [
        # batch 1: the purchase arrives first — no view history yet
        {"event_id": [100], "ts": [t(30)], "user_id": [1],
         "event_type": ["purchase"], "value": [9.9]},
        # batch 2: a LATE view with EARLIER event time, plus a view after
        # the purchase (must NOT be used), plus a click before it
        {"event_id": [101, 102, 103],
         "ts": [t(10), t(40), t(20)],
         "user_id": [1, 1, 1],
         "event_type": ["view", "view", "click"],
         "value": [1.5, 7.7, 0.0]},
    ]
    work_dir = tempfile.mkdtemp(prefix="pit_late_")
    _write_chunks(work_dir, schema, chunks)
    try:
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(work_dir)
        )
        drained = S.run_to_memory(
            stream_pit_enrich(
                stream, key_col="user_id", ts_col="ts",
                kind_col="event_type", id_col="event_id",
                value_col="value", spine_kind="purchase",
                value_kinds=["view"], count_kinds=["click"],
            ),
            "pit_late", output_mode="update",
        )
        rows = {
            (r["event_id"], r["version"]): (r["view_value"], r["n_click"])
            for r in drained.collect()
        }
        # version 1: no history → NULL view, 0 clicks; version 2: corrected
        assert rows[(100, 1)] == (None, 0)
        assert rows[(100, 2)] == (1.5, 1)
        assert _pit_final(drained) == [
            (100, 1.5, 1)
        ]
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def _bloom_stream_report(spark, num_chunks):
    """stream_decontam_replay's body with a configurable chunking."""
    from my_cudf_spark.functions import text as T
    from my_cudf_spark.operators.sampling import _threshold_hex, hash_bucket
    from my_cudf_spark.streaming.decontam import stream_bloom_decontam
    from my_cudf_spark.streaming.sources import replay_documents

    th = _threshold_hex(0.05)
    stream, work_dir = replay_documents(spark, SF_DIR, num_chunks=num_chunks)
    docs = stream.select(
        "doc_id", F.split(T.normalize_text("text"), " ").alias("toks")
    ).select(
        "doc_id",
        F.array_distinct(T.word_ngrams(F.col("toks"), 3)).alias("grams"),
        (hash_bucket(["doc_id"]) < th).alias("is_bench"),
    ).filter(F.size("grams") > 0)
    verdicts = stream_bloom_decontam(docs, "doc_id", "grams", "is_bench", buckets=4)
    try:
        updates = S.run_to_memory(
            verdicts, f"blmdc{num_chunks}", "update"
        ).cache()
        updates.count()
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    from my_cudf_spark.streaming.decontam import gram_id

    per_probe = updates.groupBy("gram", "j").agg(
        F.bool_or("hit").alias("hit"),
        F.min(F.col("hit").cast("int")).alias("min_hit"),
    )
    per_gram = per_probe.groupBy("gram").agg(F.bool_and("hit").alias("g_in"))
    docgrams = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", F.split(T.normalize_text("text"), " ").alias("toks"))
        .select(
            "doc_id",
            F.array_distinct(T.word_ngrams(F.col("toks"), 3)).alias("grams"),
            hash_bucket(["doc_id"]).alias("b"),
        )
        .filter((F.size("grams") > 0) & (F.col("b") >= th))
        .select("doc_id", F.explode("grams").alias("g"))
        .select("doc_id", gram_id("g").alias("gram"))
    )
    report = (
        docgrams.join(per_gram, "gram")
        .groupBy("doc_id")
        .agg(F.sum(F.col("g_in").cast("long")).alias("n_overlap"))
    )
    # a probe corrected late has BOTH a false and a true emission
    flips = per_probe.filter(F.col("hit") & (F.col("min_hit") == 0)).count()
    return report, flips


def test_stream_bloom_decontam_chunking_invariant_and_corrects(spark):
    """The folded final snapshot is identical under different micro-batch
    chunkings AND equals the batch bloom report; late bench arrivals
    actually exercise the miss→hit re-emission path (flips > 0, since
    id-ranged chunks deliver part of the hash-sliced eval set after the
    first train docs probed its grams)."""
    from my_cudf_spark.functions import text as T
    from my_cudf_spark.operators.decontam import (
        bloom_contamination,
        bloom_filter_bits,
    )
    from my_cudf_spark.operators.sampling import _threshold_hex, hash_bucket

    r2, flips2 = _bloom_stream_report(spark, 2)
    r5, _ = _bloom_stream_report(spark, 5)
    a = sorted(map(tuple, r2.collect()))
    b = sorted(map(tuple, r5.collect()))
    assert a == b
    assert flips2 > 0

    th = _threshold_hex(0.05)
    toks = F.split(T.normalize_text("text"), " ")
    sets = (
        load_table(spark, SF_DIR, "documents")
        .select(
            "doc_id",
            F.array_distinct(T.word_ngrams(toks, 3)).alias("grams"),
            hash_bucket(["doc_id"]).alias("b"),
        )
        .filter(F.size("grams") > 0)
    )
    bench = sets.filter(F.col("b") < th).select(F.explode("grams").alias("gram"))
    train = sets.filter(F.col("b") >= th).select(F.col("doc_id").alias("id"), "grams")
    batch = bloom_contamination(train, bloom_filter_bits(bench)).select(
        F.col("id").alias("doc_id"), F.col("n_overlap").cast("long").alias("n_overlap")
    )
    c = sorted(map(tuple, batch.collect()))
    assert a == c


def test_stream_cluster_stats_chunking_invariant(spark):
    """Integer nano-unit sums commute: the drained per-cell stats are
    identical under different micro-batch chunkings, counts cover the
    corpus exactly once, and every sums vector has dim entries."""
    from my_cudf_spark.streaming.kmeans import stream_cluster_stats
    from my_cudf_spark.streaming.sources import replay_table

    def run(num_chunks):
        stream, work_dir = replay_table(
            spark, SF_DIR, "embeddings", "vec_id", num_chunks=num_chunks
        )
        emb = stream.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        snaps = stream_cluster_stats(emb, "vec_id", "embedding", dim=64, bits=4)
        try:
            upd = S.run_to_memory(snaps, f"ckst{num_chunks}", "update").cache()
            upd.count()
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)
        return {
            r["cell"]: (r["n"], tuple(r["sums"]))
            for r in upd.groupBy("cell")
            .agg(F.max_by("sums", "n").alias("sums"), F.max("n").alias("n"))
            .collect()
        }

    a, b = run(2), run(5)
    assert a == b
    total = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(n for n, _ in a.values()) == total
    assert all(len(s) == 64 for _, s in a.values())


def test_stream_funnel_chunking_invariant_and_matches_batch(spark):
    """The max-version per-user stage snapshot is identical under
    different chunkings and equals the batch greedy fold (late events in
    other chunks rewrite progressions; recompute-over-history makes the
    result a pure function of the final event set)."""
    from my_cudf_spark.streaming.funnel import stream_funnel
    from my_cudf_spark.queries import load_registry

    def run(num_chunks):
        stream, work_dir = replay_events(spark, SF_DIR, num_chunks=num_chunks)
        v = stream_funnel(
            stream, "user_id", "ts", "event_id", "event_type", buckets=4
        )
        try:
            upd = S.run_to_memory(v, f"fnl{num_chunks}", "update").cache()
            upd.count()
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)
        return {
            r["user"]: r["stage"]
            for r in upd.groupBy("user")
            .agg(F.max_by("stage", "version").alias("stage"))
            .collect()
        }

    a, b = run(2), run(5)
    assert a == b
    # batch greedy fold from the registered query's per-stage counts
    rows = load_registry()["events_funnel_ordered"].fn(spark, SF_DIR).collect()
    batch_counts = {r["stage"]: r["n_reached"] for r in rows}
    for s in (1, 2, 3):
        assert sum(1 for st in a.values() if st >= s) == batch_counts[s]


def test_stream_ivm_chunking_invariant(spark):
    """Integer-cents deltas commute: the folded per-key view is identical
    under different chunkings and keys deleted down to count 0 vanish."""
    from my_cudf_spark.queries import load_registry

    fn = load_registry()["stream_ivm_replay"].fn
    a = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    assert len(a) > 0
    assert all(n > 0 for _, _, n in a)
    # second run re-replays with the same chunking (determinism); the
    # cross-chunking leg is covered by the shared-oracle driver check of
    # the 2- and 4-chunk stream_decontam/funnel twins — here assert the
    # replay is stable run-to-run
    b = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    assert a == b


def test_stream_funnel_seal_lag_compacts_exactly(spark):
    """Driving the per-bucket fold directly with time-ordered
    batches (the file-replay harness delivers chunks in arbitrary order,
    which a bounded seal_lag by contract does not cover): the seal
    compaction folds old events into a (stage, since, count) base, STATE
    SHRINKS, and the final snapshot equals the uncompacted run — the
    left-fold split is exact when lateness stays within the lag."""
    import pandas as pd

    from my_cudf_spark.streaming.funnel import STATE, _make_step
    from my_cudf_spark.streaming.pystate import empty_state

    # 40 random-ish funnel events for 4 users over ts 0..4000, delivered
    # in 4 time-ordered chunks with ±50 intra-chunk disorder
    rows = []
    eid = 0
    for t in range(0, 4000, 100):
        u = (t // 100) % 4
        step = (t // 400) % 3
        rows.append((u, t + (37 * eid) % 50, eid, step))
        eid += 1
    rows.sort(key=lambda r: r[1])
    n = len(rows)
    batches = [rows[: n // 4], rows[n // 4 : n // 2],
               rows[n // 2 : 3 * n // 4], rows[3 * n // 4 :]]

    def run(seal_lag):
        step = _make_step(3, seal_lag)
        state = empty_state(STATE)
        snap = {}
        for b in batches:
            pdf = pd.DataFrame(b, columns=["__u", "__ts", "__eid", "__step"])
            state, out = step((0,), state, pdf)
            for r in out.itertuples(index=False):
                prev = snap.get(r.user)
                if prev is None or r.version > prev[1]:
                    snap[r.user] = (int(r.stage), int(r.version))
        live_events = len(state[4])
        return snap, live_events

    sealed, live_sealed = run(200)
    unsealed, live_unsealed = run(None)
    assert sealed == unsealed
    # the compaction genuinely bounded state: only the last ~200 ts units
    # of events stay live, vs the whole history without sealing
    assert live_unsealed == len(rows)
    assert live_sealed < len(rows) // 2


def test_stream_funnel_rejects_non_integral_user(spark):
    from my_cudf_spark.streaming.funnel import stream_funnel

    df = spark.createDataFrame(
        [("u1", "2024-01-01 00:00:00", 1, "view")],
        "user_id string, ts string, event_id long, event_type string",
    )
    with pytest.raises(TypeError, match="integral"):
        stream_funnel(df, "user_id", "ts", "event_id", "event_type")


def test_incremental_agg_totals_string_keys(spark):
    """The key keeps its input type (former long-only coercion): a string
    key streams through state and emerges as a string column."""
    from my_cudf_spark.streaming.sources import replay_table
    from my_cudf_spark.streaming.stateful import incremental_agg_totals

    def tf(df):
        return (
            df.filter(F.col("event_type").isin(["view", "click"]))
            .select(
                F.col("event_type").alias("k"),
                F.lit(1).alias("ds"),
                F.lit(1).alias("dn"),
            )
        )

    stream, work_dir = replay_table(
        spark, SF_DIR, "events", "event_id", num_chunks=2, transform=tf
    )
    out = incremental_agg_totals(stream, "k", "ds", "dn")
    try:
        upd = S.run_to_memory(out, "ivmstr", "update").cache()
        upd.count()
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    final = {
        r["key"]: (r["total"], r["n"])
        for r in upd.groupBy("key")
        .agg(
            F.max_by("total", "version").alias("total"),
            F.max_by("n", "version").alias("n"),
        )
        .collect()
    }
    batch = {
        r["k"]: r["c"]
        for r in tf(load_table(spark, SF_DIR, "events"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert set(final) == set(batch)
    for k, c in batch.items():
        assert final[k] == (c, c)


def test_running_totals_all_null_values_sum_is_null(spark):
    """A key whose values are all NULL streams ``sum_value`` NULL, as the
    batch twin and SQL SUM give — never a silent 0.0."""
    import pyarrow as pa

    from my_cudf_spark.streaming.stateful import running_totals

    schema = pa.schema([("k", pa.int64()), ("v", pa.float64())])
    stream, work_dir = _replay_chunks(
        spark, "k long, v double", schema, [{"k": [1], "v": [None]}] * 2
    )
    try:
        drained = S.run_to_memory(
            running_totals(stream, ["k"], "v"), "rt_allnull", output_mode="update"
        )
        final = max((tuple(r) for r in drained.collect()), key=lambda r: r[1])
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    batch_df = spark.createDataFrame([(1, None), (1, None)], "k long, v double")
    assert [tuple(r) for r in running_totals(batch_df, ["k"], "v").collect()] == [
        (1, 2, None)
    ]
    assert final == (1, 2, None)


def test_incremental_agg_totals_null_key_is_own_group(spark):
    """Delta rows with a NULL key fold into their own group, as SQL GROUP
    BY does — never silently dropped."""
    import pyarrow as pa

    from my_cudf_spark.streaming.stateful import incremental_agg_totals

    schema = pa.schema([("k", pa.int64()), ("ds", pa.int64()), ("dn", pa.int64())])
    chunks = [
        {"k": [1, None], "ds": [10, 5], "dn": [1, 1]},
        {"k": [None, 1], "ds": [7, -10], "dn": [1, -1]},
    ]
    stream, work_dir = _replay_chunks(spark, "k long, ds long, dn long", schema, chunks)
    try:
        upd = S.run_to_memory(
            incremental_agg_totals(stream, "k", "ds", "dn"), "ivm_nullkey", "update"
        )
        final = {
            r["key"]: (r["total"], r["n"], r["version"])
            for r in upd.groupBy("key")
            .agg(*[F.max_by(c, "version").alias(c) for c in ("total", "n", "version")])
            .collect()
        }
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    assert final == {None: (12, 2, 2), 1: (0, 0, 2)}
    batch_df = spark.createDataFrame(
        [(1, 10, 1), (None, 5, 1), (None, 7, 1), (1, -10, -1)],
        "k long, ds long, dn long",
    )
    batch = incremental_agg_totals(batch_df, "k", "ds", "dn").collect()
    assert {r["key"]: (r["total"], r["n"], r["version"]) for r in batch} == final


def test_aggregate_shaped_state_is_native_aggregation(spark, tmp_path):
    """keep-latest, running totals, IVM deltas, type counts and the top-k
    and quantile sketches keep their stream state in Spark's native
    aggregation, not in a Python state operator."""
    from my_cudf_spark.streaming.quantiles import quantile_digest
    from my_cudf_spark.streaming.stateful import (
        heavy_hitters,
        incremental_agg_totals,
        latest_state,
        running_totals,
        type_counts,
    )

    stream = spark.readStream.schema("k long, seq long, op string, v double").parquet(
        str(tmp_path)
    )
    frames = {
        "latest_state": latest_state(stream, ["k"], "seq", "op", ["v"]),
        "running_totals": running_totals(stream, ["k"], "v"),
        "incremental_agg_totals": incremental_agg_totals(stream, "k", "seq", "seq"),
        "heavy_hitters": heavy_hitters(stream, ["k"], "op", k=2, capacity=4),
        "quantile_digest": quantile_digest(stream, ["k"], "v", qs=[0.5]),
        "type_counts": type_counts(stream, ["k"], "op"),
    }
    for name, df in frames.items():
        assert df.isStreaming, name
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "Aggregate" in plan, name
        assert "FlatMapGroupsInPandasWithState" not in plan, name
        assert "TransformWithStateInPandas" not in plan, name


def test_python_state_has_one_call_site():
    """applyInPandasWithState is called, and GroupState imported, only by
    the Python-state kernel: every other stateful operator supplies a fold
    to streaming.pystate.python_state."""
    import ast
    import pathlib

    import my_cudf_spark

    root = pathlib.Path(my_cudf_spark.__file__).parent
    calls, imports = set(), set()
    for path in sorted(root.rglob("*.py")):
        mod = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                if node.func.attr == "applyInPandasWithState":
                    calls.add(mod)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                if any(a.name.split(".")[-1] == "GroupState" for a in node.names):
                    imports.add(mod)
    assert calls == {"streaming/pystate.py"}
    assert imports == {"streaming/pystate.py"}


def _bucketed_ops():
    from my_cudf_spark.streaming.annindex import stream_ann_index
    from my_cudf_spark.streaming.decontam import stream_bloom_decontam
    from my_cudf_spark.streaming.funnel import stream_funnel
    from my_cudf_spark.streaming.minhashdd import stream_lsh_dedup
    from my_cudf_spark.streaming.phash import stream_phash_dedup
    from my_cudf_spark.streaming.pretrain import stream_exact_dedup_min
    from my_cudf_spark.streaming.semdedup import stream_semantic_dedup
    from my_cudf_spark.streaming.substring import stream_substring_dedup

    return {
        "ann_index": lambda df, b: stream_ann_index(df, "id", "cell", buckets=b),
        "bloom_decontam": lambda df, b: stream_bloom_decontam(
            df, "id", "toks", "is_bench", buckets=b
        ),
        "exact_dedup_min": lambda df, b: stream_exact_dedup_min(df, "id", "h", buckets=b),
        "funnel": lambda df, b: stream_funnel(df, "user", "ts", "id", "type", buckets=b),
        "lsh_dedup": lambda df, b: stream_lsh_dedup(
            df, "id", "sigs", bands=2, rows=2, min_matches=2, buckets=b
        ),
        "phash_dedup": lambda df, b: stream_phash_dedup(df, "id", "sig", buckets=b),
        "semantic_dedup": lambda df, b: stream_semantic_dedup(
            df, "id", "vec", "cell", 0.9, buckets=b
        ),
        "substring_dedup": lambda df, b: stream_substring_dedup(
            df, "id", "toks", buckets=b
        ),
    }


@pytest.mark.parametrize(
    "op",
    [
        "ann_index",
        "bloom_decontam",
        "exact_dedup_min",
        "funnel",
        "lsh_dedup",
        "phash_dedup",
        "semantic_dedup",
        "substring_dedup",
    ],
)
def test_bucketed_operator_rejects_bad_bucket_count(spark, tmp_path, op):
    """A bucket count below 1 fails while the plan is built (ANSI
    ``pmod(x, 0)`` would otherwise raise inside the first micro-batch, and
    a negative count would run silently); no stream is started."""
    stream = spark.readStream.schema(
        "id long, sig long, sigs array<long>, toks array<string>,"
        " is_bench boolean, vec array<double>, cell int, user long,"
        " ts timestamp, type string, h string"
    ).parquet(str(tmp_path))
    for buckets in (0, -3):
        with pytest.raises(ValueError, match="buckets must be positive"):
            _bucketed_ops()[op](stream, buckets)
    assert spark.streams.active == []


_RESTART_OPS = ["heavy_hitters", "quantile_digest", "weighted_reservoir", "scd2_history"]


@pytest.mark.parametrize("op", _RESTART_OPS)
def test_sketch_state_survives_restart(spark, tmp_path, op):
    """Drain 2 of 4 chunks with a durable checkpoint, stop, add the other
    2 chunks and restart: the final per-key snapshot equals the batch
    answer, and the state store holds exactly one row per state key — per
    group key for native aggregation state, per occupied bucket for
    Python state."""
    import pyarrow as pa

    from my_cudf_spark.streaming.pystate import bucket
    from my_cudf_spark.streaming.quantiles import quantile_digest
    from my_cudf_spark.streaming.reservoir import weighted_reservoir
    from my_cudf_spark.streaming.scd2 import scd2_history
    from my_cudf_spark.streaming.stateful import heavy_hitters

    def build(df):
        if op == "heavy_hitters":
            return heavy_hitters(df, ["k"], "item", k=3, capacity=8)
        if op == "quantile_digest":
            return quantile_digest(df, ["k"], "v", qs=[0.5, 0.9])
        if op == "weighted_reservoir":
            return weighted_reservoir(df, ["k"], "id", "v", k=3, buckets=3)
        return scd2_history(df, ["k"], ["item"], "id", buckets=3)

    rows = [
        (i % 5, "abcdef"[(i * i) % 6], float((i * 37) % 101), i) for i in range(200)
    ]
    ddl = "k long, item string, v double, id long"
    schema = pa.schema(
        [("k", pa.int64()), ("item", pa.string()), ("v", pa.float64()), ("id", pa.int64())]
    )
    chunks = [
        dict(zip(schema.names, map(list, zip(*rows[i : i + 50]))))
        for i in range(0, 200, 50)
    ]
    data_dir, ckpt = tmp_path / "data", str(tmp_path / "ckpt")
    data_dir.mkdir()

    latest: dict = {}
    batch_ids: list[int] = []

    def sink(bdf, batch_id):
        batch_ids.append(batch_id)
        touched: dict = {}
        for r in bdf.collect():
            touched.setdefault(r["k"], []).append(tuple(r))
        latest.update(touched)

    def drain():
        stream = (
            spark.readStream.schema(ddl)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(data_dir))
        )
        q = (
            build(stream)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_chunks(str(data_dir), schema, chunks[:2])
    drain()
    assert batch_ids == [0, 1]
    _write_chunks(str(data_dir), schema, chunks[2:], first=2)
    drain()
    assert batch_ids == [0, 1, 2, 3]

    final = sorted(r for key_rows in latest.values() for r in key_rows)
    batch_df = spark.createDataFrame(rows, ddl)
    batch = build(batch_df)
    assert final == sorted(tuple(r) for r in batch.collect())
    state_rows = 5
    if op in ("weighted_reservoir", "scd2_history"):
        state_rows = batch_df.select(bucket(["k"], 3)).distinct().count()
    assert spark.read.format("statestore").load(ckpt).count() == state_rows


def test_stream_ann_index_chunking_invariant_matches_batch(spark):
    """The drained per-cell posting lists are identical under different
    chunkings and equal the batch nearest-centroid assignment (frozen
    quantizer ⇒ the index is a pure function of the final id set)."""
    from my_cudf_spark.streaming.annindex import stream_ann_index
    from my_cudf_spark.streaming.semdedup import cell_assign_expr, seed_centroid_rows
    from my_cudf_spark.streaming.sources import replay_table

    def as_double(df):
        return df.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )

    emb_b = as_double(load_table(spark, SF_DIR, "embeddings"))
    cents = seed_centroid_rows(emb_b, "vec_id", "embedding", 16)

    def run(num_chunks):
        stream, work_dir = replay_table(
            spark, SF_DIR, "embeddings", "vec_id", num_chunks=num_chunks
        )
        assigned = as_double(stream).withColumn(
            "cell", cell_assign_expr(cents, "embedding")
        )
        snaps = stream_ann_index(assigned, "vec_id", "cell", buckets=4)
        try:
            upd = S.run_to_memory(snaps, f"anx{num_chunks}", "update").cache()
            upd.count()
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)
        return {
            r["cell"]: tuple(r["ids"])
            for r in upd.groupBy("cell")
            .agg(F.max_by("ids", "n").alias("ids"))
            .collect()
        }

    a, b = run(2), run(5)
    assert a == b
    want = {}
    for r in (
        emb_b.withColumn("cell", cell_assign_expr(cents, "embedding"))
        .select("cell", "vec_id")
        .collect()
    ):
        want.setdefault(r["cell"], []).append(r["vec_id"])
    want = {c: tuple(sorted(v)) for c, v in want.items()}
    assert a == want


def test_stream_ann_index_redelivery_idempotent(spark):
    """At-least-once delivery: a (cell, id) pair re-delivered in a later
    micro-batch lands in the index ONCE — per-cell ``n`` grows only on
    genuinely new ids (pre-fix the posting list held the id twice)."""
    import tempfile

    from my_cudf_spark.streaming.annindex import stream_ann_index

    work_dir = tempfile.mkdtemp(prefix="anx_redeliver_")
    data_dir = os.path.join(work_dir, "data")
    try:
        schema = "vec_id long, cell int"
        chunk1 = spark.createDataFrame(
            [(i, i % 3) for i in range(10)], schema
        )
        # ids 5-9 re-delivered, 10-14 new
        chunk2 = spark.createDataFrame(
            [(i, i % 3) for i in range(5, 15)], schema
        )
        chunk1.coalesce(1).write.parquet(os.path.join(data_dir, "c1"))
        chunk2.coalesce(1).write.parquet(os.path.join(data_dir, "c2"))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(data_dir, "*"))
        )
        snaps = stream_ann_index(stream, "vec_id", "cell", buckets=2)
        upd = S.run_to_memory(snaps, "anx_redeliver", "update").cache()
        upd.count()
        final = {
            r["cell"]: tuple(r["ids"])
            for r in upd.groupBy("cell")
            .agg(F.max_by("ids", "n").alias("ids"))
            .collect()
        }
        want = {}
        for i in range(15):
            want.setdefault(i % 3, []).append(i)
        assert final == {c: tuple(v) for c, v in want.items()}
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def test_stream_exact_dedup_min_keeps_batch_rule(spark):
    """Keep-min-id per hash, whatever the chunking: the drained survivor
    set equals the batch row_number()-over-(hash ORDER BY id) rule even
    when the min-id copy arrives AFTER another copy."""
    import tempfile

    from my_cudf_spark.streaming.pretrain import stream_exact_dedup_min

    work_dir = tempfile.mkdtemp(prefix="dd_min_")
    data_dir = os.path.join(work_dir, "data")
    try:
        schema = "doc_id long, h string"
        # chunk 1 delivers the HIGH ids first; chunk 2 the low duplicates
        chunk1 = spark.createDataFrame(
            [(10, "a"), (11, "b"), (12, "a")], schema
        )
        chunk2 = spark.createDataFrame(
            [(1, "a"), (2, "c"), (3, "b")], schema
        )
        chunk1.coalesce(1).write.parquet(os.path.join(data_dir, "c1"))
        chunk2.coalesce(1).write.parquet(os.path.join(data_dir, "c2"))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(data_dir, "*"))
        )
        out = S.run_to_memory(
            stream_exact_dedup_min(stream, "doc_id", "h", buckets=2),
            "ddmin", "update",
        )
        final = {
            r["h"]: r["keep_id"]
            for r in out.groupBy("h").agg(F.min("keep_id").alias("keep_id")).collect()
        }
        assert final == {"a": 1, "b": 3, "c": 2}
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def test_stream_pack_bestfit_equals_batch_any_chunking(spark):
    """The max-version snapshot per (class, shard) equals batch
    pack_bestfit on the full input under different chunkings."""
    import tempfile

    from pyspark.sql import Window

    from my_cudf_spark.operators.packing import pack_bestfit
    from my_cudf_spark.streaming.pretrain import stream_pack_bestfit

    rows = [(i, 7 + (i * 37) % 300) for i in range(120)]
    schema = "doc_id long, n long"
    batch_df = spark.createDataFrame(rows, schema)
    want = sorted(
        (r["doc_id"], r["size_class"], r["shard"], r["pack_idx"], r["slot"])
        for r in pack_bestfit(batch_df, "doc_id", "n", 256, shards=2).collect()
    )

    def run(num_chunks):
        work_dir = tempfile.mkdtemp(prefix="spack_")
        data_dir = os.path.join(work_dir, "data")
        try:
            batch_df.repartitionByRange(num_chunks, "doc_id").write.parquet(data_dir)
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(data_dir)
            )
            snaps = stream_pack_bestfit(stream, "doc_id", "n", 256, shards=2)
            out = S.run_to_memory(snaps, f"spack{num_chunks}", "update")
            wv = Window.partitionBy("size_class", "shard")
            final = (
                out.withColumn("__vm", F.max("version").over(wv))
                .filter(F.col("version") == F.col("__vm"))
                .select("id", "size_class", "shard", "pack_idx", "slot")
                .distinct()
                .collect()
            )
            return sorted(
                (r["id"], r["size_class"], r["shard"], r["pack_idx"], r["slot"])
                for r in final
            )
        finally:
            shutil.rmtree(work_dir, ignore_errors=True)

    assert run(2) == want
    assert run(5) == want


def test_stream_pretrain_replay_deterministic_end_to_end(spark):
    """The streamed pretrain pipeline is a pure function of the corpus:
    two full runs yield the identical final frame (per-op chunking
    invariance is covered by the two tests above; this pins the
    composition, including the stage boundary re-stream)."""
    from my_cudf_spark.queries import load_registry

    fn = load_registry()["stream_pretrain_replay"].fn
    a = [tuple(r) for r in fn(spark, SF_DIR).collect()]
    b = [tuple(r) for r in fn(spark, SF_DIR).collect()]
    assert a == b and len(a) > 0


def test_pq_code_expr_matches_numpy_argmin(spark):
    """pq_code_expr's per-subspace argmin-L2 (sequential fold, lowest
    code on ties) equals a numpy reference on planted vectors."""
    import numpy as np

    from my_cudf_spark.streaming.annindex import pq_code_expr, seed_pq_codebooks

    rng = np.random.RandomState(11)
    vecs = rng.uniform(-1, 1, size=(40, 16)).round(3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    m, n_codes = 4, 8
    cbooks = seed_pq_codebooks(df, "vec_id", "embedding", m=m, n_codes=n_codes)
    got = {
        r["vec_id"]: list(r["code"])
        for r in df.select(
            "vec_id", pq_code_expr(cbooks, "embedding").alias("code")
        ).collect()
    }
    sub_d = 16 // m
    for i in range(40):
        want = []
        for s in range(m):
            x = vecs[i, s * sub_d : (s + 1) * sub_d]
            d2 = [
                float(np.sum((x - np.array(c)) ** 2)) for c in cbooks[s]
            ]
            want.append(int(np.argmin(d2)))  # argmin ties → lowest index
        assert got[i] == want, i


def test_seed_codebooks_short_corpus_raises(spark):
    """Fewer corpus rows than n_codes would silently skew code
    assignment — both seeders fail loudly instead."""
    from my_cudf_spark.streaming.annindex import (
        seed_pq_codebooks,
        seed_residual_codebooks,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0, 2.0]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="at least n_codes=8"):
        seed_pq_codebooks(df, "vec_id", "embedding", m=2, n_codes=8)
    with pytest.raises(ValueError, match="at least n_codes=8"):
        seed_residual_codebooks(
            df, "vec_id", "embedding", [[1.0, 0.0, 0.0, 0.0]], m=2, n_codes=8
        )


def test_stream_ann_index_mixed_code_len_raises(spark):
    """A batch whose code words disagree on m (frozen-epoch contract
    violation) raises instead of silently misaligning ids and codes."""
    import tempfile

    from my_cudf_spark.streaming import ops as S
    from my_cudf_spark.streaming.annindex import stream_ann_index

    df = load_table(spark, SF_DIR, "embeddings").limit(20)
    work_dir = tempfile.mkdtemp(prefix="annmix_")
    df.select("vec_id").repartitionByRange(2, "vec_id").write.mode(
        "overwrite"
    ).parquet(os.path.join(work_dir, "data"))
    stream = (
        spark.readStream.schema("vec_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(work_dir, "data"))
        .withColumn("cell", (F.col("vec_id") % 2).cast("int"))
        .withColumn(
            "code",
            F.when(
                F.col("vec_id") % 2 == 0, F.array(F.lit(1), F.lit(2))
            ).otherwise(F.array(F.lit(1), F.lit(2), F.lit(3))),
        )
    )
    try:
        with pytest.raises(Exception, match="mixed code-word lengths"):
            S.run_to_memory(
                stream_ann_index(
                    stream, "vec_id", "cell", buckets=1, code_col="code"
                ),
                "annmix",
                output_mode="update",
            )
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def test_residual_codebooks_match_batch_inplan(spark):
    """seed_residual_codebooks' driver-side literals equal the batch
    in-plan residual computation (cell choice by sequential-fold cosine,
    exact IEEE subtraction) component-for-component."""
    from my_cudf_spark.operators.similarity import (
        _assign_nearest,
        _seed_centroids,
        l2_norm,
    )
    from my_cudf_spark.streaming.annindex import seed_residual_codebooks
    from my_cudf_spark.streaming.semdedup import seed_centroid_rows

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    m, n_codes = 8, 16
    cents0 = seed_centroid_rows(emb, "vec_id", "embedding", 16)
    cbooks = seed_residual_codebooks(
        emb, "vec_id", "embedding", cents0, m=m, n_codes=n_codes
    )
    c = emb.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("__v"),
        l2_norm(F.col("embedding")).alias("__n"),
    )
    cents = _seed_centroids(c, "nid", 16)
    res = (
        _assign_nearest(c, cents, "nid", 1)
        .join(F.broadcast(cents), "cid")
        .select(
            "nid",
            F.zip_with(F.col("__v"), F.col("__cv"), lambda x, y: x - y).alias("r"),
        )
        .orderBy("nid")
        .limit(n_codes)
        .collect()
    )
    sub_d = len(res[0]["r"]) // m
    for code, row in enumerate(res):
        want = [float(x) for x in row["r"]]
        for s in range(m):
            assert cbooks[s][code] == want[s * sub_d : (s + 1) * sub_d], (
                s,
                code,
            )


def test_stream_ivfpq_residual_equals_batch_ivfpq(spark):
    """The drained residual-coded streaming IVF-PQ answers the probe
    EXACTLY like batch ivfpq_topk on the full corpus — the bit-parity
    the residual layout exists for (vec_topk_ivfpq is the oracle)."""
    from my_cudf_spark.queries import load_registry

    reg = load_registry()
    got = [
        tuple(r)
        for r in reg["stream_ann_ivfpq_residual_replay"].fn(spark, SF_DIR).collect()
    ]
    want = [tuple(r) for r in reg["vec_topk_ivfpq"].fn(spark, SF_DIR).collect()]
    assert got == want and len(got) > 0


def test_replay_table_single_task_chunks_exact_and_deterministic(spark):
    """r11 optimization guard for the replay prep fast path: a single-split
    fixture scan is chunked by one sequential write task (maxRecordsPerFile)
    instead of a sampling pass + range shuffle.  The contract the stream
    queries rely on: exactly num_chunks files, their union is exactly the
    batch table, and two preps of the same input produce identical chunk
    membership (determinism — same input file, same row order)."""
    import glob
    import os

    from my_cudf_spark.sources import load_table
    from my_cudf_spark.streaming.sources import replay_table

    def prep():
        stream, work_dir = replay_table(
            spark, SF_DIR, "documents", "doc_id", num_chunks=3
        )
        files = sorted(glob.glob(os.path.join(work_dir, "data", "*.parquet")))
        chunks = [
            tuple(sorted(r["doc_id"] for r in spark.read.parquet(f).collect()))
            for f in files
        ]
        shutil.rmtree(work_dir, ignore_errors=True)
        return chunks

    a, b = prep(), prep()
    assert len(a) == 3
    assert a == b, "chunk membership must be deterministic across preps"
    batch_ids = sorted(
        r["doc_id"] for r in load_table(spark, SF_DIR, "documents").collect()
    )
    assert sorted(x for c in a for x in c) == batch_ids


def test_cell_code_pandas_kernels_bit_equal_expr_forms(spark):
    """r12 optimization guard: the Arrow/pandas assignment kernels
    (cell_assign_pandas / cell_code_assign_pandas) must be BIT-IDENTICAL,
    row for row, to the literal-tree Column forms they replace on the hot
    streaming paths (cell_assign_expr, pq_code_expr, pq_code_expr over
    residual_expr) — the same sequential-fold IEEE arithmetic, just
    vectorized across rows."""
    from my_cudf_spark.streaming.annindex import (
        cell_code_assign_pandas,
        pq_code_expr,
        residual_expr,
        seed_pq_codebooks,
        seed_residual_codebooks,
    )
    from my_cudf_spark.streaming.semdedup import (
        cell_assign_expr,
        cell_assign_pandas,
        seed_centroid_rows,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    cents = seed_centroid_rows(emb, "vec_id", "embedding", 16)
    cb_raw = seed_pq_codebooks(emb, "vec_id", "embedding", m=8, n_codes=16)
    cb_res = seed_residual_codebooks(
        emb, "vec_id", "embedding", cents, m=8, n_codes=16
    )

    # residual_expr needs the assigned cell as a column
    both = emb.withColumn(
        "__cell_for_res", cell_assign_expr(cents, "embedding")
    ).select(
        "vec_id",
        cell_assign_expr(cents, "embedding").alias("cell_expr"),
        cell_assign_pandas(cents, "embedding").alias("cell_pd"),
        pq_code_expr(cb_raw, "embedding").alias("code_expr"),
        cell_code_assign_pandas(cents, cb_raw, "embedding").alias("cc_raw"),
        pq_code_expr(
            cb_res, residual_expr(cents, "embedding", "__cell_for_res")
        ).alias("rcode_expr"),
        cell_code_assign_pandas(
            cents, cb_res, "embedding", residual=True
        ).alias("cc_res"),
    )
    rows = both.collect()
    assert rows
    for r in rows:
        assert r["cell_pd"] == r["cell_expr"], r["vec_id"]
        assert r["cc_raw"]["cell"] == r["cell_expr"], r["vec_id"]
        assert list(r["cc_raw"]["code"]) == list(r["code_expr"]), r["vec_id"]
        assert r["cc_res"]["cell"] == r["cell_expr"], r["vec_id"]
        assert list(r["cc_res"]["code"]) == list(r["rcode_expr"]), r["vec_id"]


def test_drain_runs_one_state_wave_and_restores_confs(spark):
    """The drain envelope sizes every micro-batch's state partitions to
    min(8, executor slots) — one task wave per stateful stage — and
    restores the session's shuffle-partition and delta-retention confs
    afterwards, also when the drained query fails."""
    from my_cudf_spark.queries.streaming_queries import _drain

    keys = ("spark.sql.shuffle.partitions", "spark.sql.streaming.minBatchesToRetain")
    saved = {k: spark.conf.get(k) for k in keys}
    before = {keys[0]: "3", keys[1]: "7"}
    for k, v in before.items():
        spark.conf.set(k, v)
    S.collect_progress = True
    try:
        stream, work_dir = replay_events(spark, SF_DIR, num_chunks=2)
        counts = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        out = _drain(counts, "wave_guard", work_dir)
        assert out.count() > 0
        assert not os.path.exists(work_dir)
        (drain,) = S.last_progress
        assert len(drain["batches"]) == 2
        want = min(8, spark.sparkContext.defaultParallelism)
        for b in drain["batches"]:
            assert b["stateOperators"][0]["numShufflePartitions"] == want, b
        assert {k: spark.conf.get(k) for k in keys} == before

        stream, work_dir = replay_events(spark, SF_DIR, num_chunks=2)
        failing = stream.withColumn("boom", F.raise_error(F.lit("wave_guard")))
        with pytest.raises(Exception, match="wave_guard"):
            _drain(failing, "wave_guard_fail", work_dir)
        assert {k: spark.conf.get(k) for k in keys} == before
        assert not os.path.exists(work_dir)
    finally:
        S.collect_progress = False
        S.last_progress.clear()
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_replay_table_raises_when_chunks_come_up_short(spark):
    """Fewer replayed rows than chunks cannot make num_chunks files even
    through the range-split fallback: the replay fails loudly, naming the
    table and both counts, instead of draining fewer micro-batches."""
    from my_cudf_spark.streaming.sources import replay_table

    with pytest.raises(ValueError, match=r"'events' wrote 3 parquet files.*num_chunks=4"):
        replay_table(
            spark, SF_DIR, "events", "event_id", num_chunks=4,
            transform=lambda d: d.limit(3),
        )
