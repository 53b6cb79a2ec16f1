"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line as the last stdout line:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {name: seconds, ...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full execution, no
driver-side collect).  After one warm-up of the whole session, every query
gets an untimed warm-up execution and then $SPARK_GRAFT_BENCH_REPEATS (3)
timed runs — $SPARK_GRAFT_BENCH_STREAM_REPEATS (5) for ``stream_*`` — with
``release_pins`` between runs.  ``queries`` holds each query's median over
its timed runs in THIS invocation, and ``value`` is their rounded sum: the
report describes the code that ran, nothing else.  The same result is also
written to ``BENCH_LOCAL.json`` beside this file.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

from my_cudf_spark.queries import load_registry
from my_cudf_spark.session import get_spark
from my_cudf_spark.sources.tables import DEFAULT_SF_DIR

SF_DIR = DEFAULT_SF_DIR
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
# Streaming replays carry state-store open/commit + micro-batch scheduling
# jitter (observed spreads up to 4x on stream_join_replay); a median of 5
# instead of 3 keeps one outlier batch from moving the recorded number.
STREAM_REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_STREAM_REPEATS", "5"))
BENCH_LOCAL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json")


def execute(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def release_pins(spark) -> None:
    """Cold-honest protocol: ``lru_persist`` pins survive across ``q.fn``
    calls (same plan → same semanticHash → the SAME persisted frame), so
    without this a timed run would reuse subtrees materialized during the
    untimed warmup — measuring warm cache, not the plan.  Dropping every
    pin plus the whole SQL cache between the warmup and each timed run
    makes every timed execution compute its pinned subtrees inside the
    timed region (the within-run compute-once reuse across a plan's own
    consumers still counts — that is the plan improvement, not cross-run
    caching)."""
    from my_cudf_spark.plans.pin import release_persisted

    release_persisted()
    spark.catalog.clearCache()


def main() -> None:
    spark = get_spark("my_cudf_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_registry()

    # Session warmup: JVM/codegen/parquet-footer caches.
    execute(registry["ndsh_q1"].fn(spark, SF_DIR))

    timings: dict[str, float] = {}
    for name in sorted(registry):
        q = registry[name]
        # Per-query untimed warmup: the first execution of a plan pays
        # whole-stage-codegen compilation (~0.3-3 s), which is noise at
        # sub-second query scale and not representative of steady-state
        # cluster execution. Timed runs measure the compiled plan.
        execute(q.fn(spark, SF_DIR))
        release_pins(spark)
        runs = []
        repeats = STREAM_REPEATS if name.startswith("stream_") else REPEATS
        for _ in range(repeats):
            t0 = time.perf_counter()
            execute(q.fn(spark, SF_DIR))
            runs.append(time.perf_counter() - t0)
            release_pins(spark)  # outside the timed region; see release_pins
        timings[name] = round(statistics.median(runs), 4)
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "total_query_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Durable copy: stdout tail capture can truncate the head of the
    # per-query dict, so every run also lands in BENCH_LOCAL.json.
    try:
        with open(BENCH_LOCAL, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:
        print(f"# BENCH_LOCAL.json not written: {e}", file=sys.stderr)
    # Stop the session BEFORE emitting the contract line, then print it as
    # the very last stdout write: a stray JVM/log line after the JSON makes
    # the output unparseable.  A failing teardown is logged, never allowed
    # to swallow that line.
    try:
        spark.stop()
    except Exception:
        print("# spark.stop() failed:", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
