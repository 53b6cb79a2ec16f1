"""Round-12 stream profiler (guide §1, r11 verdict item #4): decompose a
stream query's wall time into BUILD+DRAIN (everything inside q.fn — seed
jobs, replay prep, the micro-batch drains) vs POST-DRAIN FOLD (the noop
execution of the returned batch frame), and break every drain down per
micro-batch with the StreamingQueryProgress durationMs fields
(queryPlanning / addBatch / getBatch / walCommit / commitOffsets /
triggerExecution) and, per stateful operator, its ``stateOperators``
fields (operatorName / numRowsTotal / memoryUsedBytes /
numShufflePartitions / numStateStoreInstances / commitTimeMs /
allUpdatesTimeMs) — operatorName tells native aggregation state
(``stateStoreSave``) from Python state (``applyInPandasWithState``), and
more state partitions than executor slots shows up as a second task wave
in commitTimeMs.

Usage:
  python tools_stream_profile.py stream_ann_ivfpq_residual_replay [...names]
         [--repeats N]

Measurement tool only: never persists results, shares bench.py's session
profile so numbers are comparable.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from my_cudf_spark.queries import load_registry
from my_cudf_spark.session import get_spark
from my_cudf_spark.streaming import ops as S

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DUR_KEYS = [
    "triggerExecution",
    "queryPlanning",
    "getBatch",
    "latestOffset",
    "addBatch",
    "walCommit",
    "commitOffsets",
]

STATE_KEYS = [
    "operatorName",
    "numRowsTotal",
    "memoryUsedBytes",
    "numShufflePartitions",
    "numStateStoreInstances",
    "commitTimeMs",
    "allUpdatesTimeMs",
]


def execute(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark("r12-stream-profile")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_registry()
    execute(registry["ndsh_q1"].fn(spark, SF_DIR))  # session warmup

    S.collect_progress = True
    out = {}
    for name in args.names:
        q = registry[name]
        spark.sparkContext.setJobDescription(f"{name}: warmup")
        execute(q.fn(spark, SF_DIR))
        fn_times, post_times, drains = [], [], []
        for i in range(args.repeats):
            S.last_progress.clear()
            spark.sparkContext.setJobDescription(f"{name}: timed {i}")
            t0 = time.perf_counter()
            df = q.fn(spark, SF_DIR)
            t1 = time.perf_counter()
            execute(df)
            t2 = time.perf_counter()
            fn_times.append(t1 - t0)
            post_times.append(t2 - t1)
            drains.append(
                [
                    {
                        "drain": d["name"],
                        "n_batches": len(d["batches"]),
                        "per_batch_ms": [
                            {
                                **{k: b.get("durationMs", {}).get(k) for k in DUR_KEYS},
                                "stateOperators": [
                                    {k: op.get(k) for k in STATE_KEYS}
                                    for op in b.get("stateOperators", [])
                                ],
                            }
                            for b in d["batches"]
                        ],
                    }
                    for d in S.last_progress
                ]
            )
        spark.sparkContext.setJobDescription(None)
        med_fn = statistics.median(fn_times)
        med_post = statistics.median(post_times)
        out[name] = {
            "fn_sec": round(med_fn, 3),
            "post_sec": round(med_post, 3),
            "total_sec": round(med_fn + med_post, 3),
            "fn_runs": [round(t, 3) for t in fn_times],
            "post_runs": [round(t, 3) for t in post_times],
            "drains_last_run": drains[-1],
        }
        print(f"== {name}: fn={med_fn:.3f}s post={med_post:.3f}s", file=sys.stderr)
        for d in drains[-1]:
            tot = sum(
                (b.get("triggerExecution") or 0) for b in d["per_batch_ms"]
            )
            plan = sum((b.get("queryPlanning") or 0) for b in d["per_batch_ms"])
            add = sum((b.get("addBatch") or 0) for b in d["per_batch_ms"])
            commit = sum(
                op.get("commitTimeMs") or 0
                for b in d["per_batch_ms"]
                for op in b["stateOperators"]
            )
            print(
                f"   drain {d['drain']}: {d['n_batches']} batches, "
                f"trigger={tot}ms plan={plan}ms addBatch={add}ms "
                f"stateCommit={commit}ms",
                file=sys.stderr,
            )
            for i, b in enumerate(d["per_batch_ms"]):
                for op in b["stateOperators"]:
                    print(
                        f"     batch {i} {op.get('operatorName')}: "
                        f"rows={op.get('numRowsTotal')} "
                        f"mem={op.get('memoryUsedBytes')}B",
                        file=sys.stderr,
                    )
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
