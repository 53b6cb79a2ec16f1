"""Event-time window / dedup / stateful operators (SURVEY.md §2.12, §7.2.6).

The reference's only streaming surface is Kafka micro-batch ingest
(``/root/reference/python/custreamz/custreamz/kafka.py:64-176``); it has no
event-time watermarks, windows, or stateful operators (the polars
``dynamic``/``rolling`` groupbys raise NotImplemented —
``/root/reference/python/cudf_polars/cudf_polars/dsl/ir.py:982-987``).
Structured Streaming provides all of that natively, so this module is a thin,
shared layer: every operator takes a DataFrame that may be **batch or
streaming** and builds the identical plan for both.  Batch is the
correctness oracle (DuckDB-checkable SQL); streaming is verified by the
tests replaying the same rows through ``readStream`` and asserting equality.

Scale notes: windowed aggregation on a stream shuffles on (window, keys) with
partial aggregation map-side, exactly like the batch plan; state-store size
is bounded by the watermark horizon, so at 100 TB/day the knobs that matter
are watermark delay (state retention) and ``spark.sql.shuffle.partitions``
(state-store parallelism) — both deployment config, not code.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _maybe_watermark(df: DataFrame, ts_col: str, delay: str | None) -> DataFrame:
    """Apply a watermark on streams; no-op on batch frames (where Spark
    ignores it anyway, but skipping keeps batch plans clean)."""
    if delay is not None and df.isStreaming:
        return df.withWatermark(ts_col, delay)
    return df


def _flatten_window(df: DataFrame, window_col: str = "window") -> DataFrame:
    """window struct → (win_start, win_end) flat µs-timestamp columns."""
    return df.select(
        F.col(f"{window_col}.start").cast("timestamp_ntz").alias("win_start"),
        F.col(f"{window_col}.end").cast("timestamp_ntz").alias("win_end"),
        *[c for c in df.columns if c != window_col],
    ).drop(window_col)


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling event-time window aggregation (``window(ts, d)``).

    Batch and streaming share this plan; on a stream the watermark bounds
    state and emits finalized windows.
    """
    df = _maybe_watermark(df, ts_col, watermark)
    grouped = df.groupBy(F.window(ts_col, duration), *keys).agg(*aggs)
    return _flatten_window(grouped)


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
    watermark: str | None = None,
) -> DataFrame:
    """Sliding (hopping) event-time window: each row lands in
    ``duration/slide`` overlapping windows, epoch-aligned to ``slide``."""
    df = _maybe_watermark(df, ts_col, watermark)
    grouped = df.groupBy(F.window(ts_col, duration, slide), *keys).agg(*aggs)
    return _flatten_window(grouped)


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
    watermark: str | None = None,
) -> DataFrame:
    """Gap-based session windows (``session_window``): consecutive events of
    the same keys merge while inter-event gap < ``gap``.

    Returns the session bounds as observed event times (min/max ts) rather
    than ``session_window.end`` (which is ``max(ts)+gap``) so the result is
    directly comparable with a gaps-and-islands SQL oracle.
    """
    df = _maybe_watermark(df, ts_col, watermark)
    grouped = df.groupBy(F.session_window(ts_col, gap), *keys).agg(
        F.min(ts_col).cast("timestamp_ntz").alias("session_start"),
        F.max(ts_col).cast("timestamp_ntz").alias("session_end"),
        *aggs,
    )
    return grouped.drop("session_window")


def dedup(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Exact key dedup; on streams with a watermark this is
    ``dropDuplicatesWithinWatermark`` (bounded state), matching the batch
    ``dropDuplicates`` result when replayed data fits the horizon."""
    if df.isStreaming and watermark is not None and ts_col is not None:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(keys))
    return df.dropDuplicates(list(keys))


# Measurement hook (decomposes the micro-batch floor): when
# ``collect_progress`` is on — ``tools_profile.py`` and a traced
# ``perfbench/run.py`` set it; ``bench.py`` and the queries never do —
# every drain appends its per-micro-batch StreamingQueryProgress dicts
# (durationMs breakdown: triggerExecution, queryPlanning, addBatch,
# getBatch, walCommit, commitOffsets, latestOffset; stateOperators) to
# ``last_progress``.
collect_progress = False
last_progress: list[dict] = []


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str | None = None
) -> DataFrame:
    """Drain a bounded stream (trigger availableNow) into an in-memory table
    and return it as a batch DataFrame.  Test/demo harness — a production
    sink would be kafka/parquet/delta via ``writeStream``.

    ``output_mode`` defaults to complete for aggregations, append otherwise;
    pass ``"update"`` explicitly for flatMapGroupsWithState-style operators
    (the memory sink then accumulates one row per state update — callers
    fold those rows per key: ``max_by`` over a version or count column,
    ``row_number`` over a window, or ``bool_and`` over per-batch
    verdicts).
    """
    if output_mode is None:
        output_mode = "complete" if _has_aggregate(stream_df) else "append"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    record_progress(q, name)
    return stream_df.sparkSession.table(name)


def record_progress(q, name: str) -> None:
    """Append a finished query's per-micro-batch progress dicts to
    ``last_progress`` when ``collect_progress`` is on (a no-op otherwise)."""
    if collect_progress:
        import json as _json

        batches = [p if isinstance(p, dict) else _json.loads(p.json) for p in q.recentProgress]
        last_progress.append({"name": name, "batches": batches})


def _has_aggregate(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    return "Aggregate" in plan
