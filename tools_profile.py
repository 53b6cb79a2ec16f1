"""Query profiler: time one or more registered queries in isolation with the
bench methodology (noop sink, warmup + median of N, ``release_pins``
between runs), and optionally dump ``.explain("formatted")`` per query.

Usage:
  python tools_profile.py QUERY [QUERY ...] [--repeats N] [--explain TAG]
  python tools_profile.py --top 20            # 20 most expensive from BENCH_LOCAL

Per query, stderr gives:
- the median wall time, split into ``fn`` (everything inside ``q.fn``:
  plan construction, eager side jobs, and for stream queries the replay
  staging and micro-batch drains) and ``post`` (the noop execution of the
  returned frame);
- the codegen compile count per timed repeat (``CodegenMetrics`` delta):
  a warm query compiles ~0, so a non-zero count is generated-code churn
  (per-call literals, or a working set larger than the codegen cache);
- for every stream the query drains (last repeat), one line with the
  summed per-micro-batch ``durationMs`` (triggerExecution, queryPlanning,
  addBatch, state commit) and one line per batch and stateful operator
  with its ``stateOperators`` rows and memory.  ``operatorName`` tells
  native aggregation state (``stateStoreSave``) from Python state
  (``applyInPandasWithState``).

stdout is one JSON object: per query, the medians, the raw runs and the
last repeat's per-drain progress.  Measurement tool only: it never
persists results (``--explain`` aside) and shares bench.py's session
profile so numbers are comparable.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from bench import BENCH_LOCAL, execute, release_pins
from my_cudf_spark.queries import load_registry
from my_cudf_spark.session import codegen_compile_count, get_spark
from my_cudf_spark.sources.tables import DEFAULT_SF_DIR
from my_cudf_spark.streaming import ops as S

HERE = os.path.dirname(os.path.abspath(__file__))

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


def _drains(progress: list[dict]) -> list[dict]:
    """``ops.last_progress`` → per drain, the per-batch durationMs fields
    and stateOperators fields this tool reports."""
    return [
        {
            "drain": d["name"],
            "per_batch": [
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
        for d in progress
    ]


def _print_drains(drains: list[dict]) -> None:
    for d in drains:
        batches = d["per_batch"]

        def total(key):
            return sum(b.get(key) or 0 for b in batches)

        commit = sum(
            op.get("commitTimeMs") or 0 for b in batches for op in b["stateOperators"]
        )
        print(
            f"   drain {d['drain']}: {len(batches)} batches, "
            f"trigger={total('triggerExecution')}ms "
            f"plan={total('queryPlanning')}ms addBatch={total('addBatch')}ms "
            f"stateCommit={commit}ms",
            file=sys.stderr,
        )
        for i, b in enumerate(batches):
            for op in b["stateOperators"]:
                print(
                    f"     batch {i} {op.get('operatorName')}: "
                    f"rows={op.get('numRowsTotal')} mem={op.get('memoryUsedBytes')}B",
                    file=sys.stderr,
                )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--explain", default=None,
                    help="write plans/profile/<query>_<TAG>.txt per query")
    args = ap.parse_args()

    names = list(args.names)
    if args.top:
        with open(BENCH_LOCAL) as f:
            q = json.load(f)["queries"]
        names += [n for n, _ in sorted(q.items(), key=lambda kv: -kv[1])[: args.top]]

    spark = get_spark("my_cudf_spark-profile")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_registry()
    execute(registry["ndsh_q1"].fn(spark, DEFAULT_SF_DIR))  # session warmup

    S.collect_progress = True
    out = {}
    for name in names:
        q = registry[name]
        if args.explain:
            df = q.fn(spark, DEFAULT_SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            pdir = os.path.join(HERE, "plans", "profile")
            os.makedirs(pdir, exist_ok=True)
            with open(os.path.join(pdir, f"{name}_{args.explain}.txt"), "w") as f:
                f.write(plan)
        spark.sparkContext.setJobDescription(f"{name}: warmup")
        execute(q.fn(spark, DEFAULT_SF_DIR))
        release_pins(spark)
        fn_runs, post_runs, compiles = [], [], []
        for i in range(args.repeats):
            S.last_progress.clear()
            spark.sparkContext.setJobDescription(f"{name}: timed {i}")
            c0 = codegen_compile_count(spark)
            t0 = time.perf_counter()
            df = q.fn(spark, DEFAULT_SF_DIR)
            t1 = time.perf_counter()
            execute(df)
            t2 = time.perf_counter()
            fn_runs.append(t1 - t0)
            post_runs.append(t2 - t1)
            compiles.append(codegen_compile_count(spark) - c0)
            release_pins(spark)
        spark.sparkContext.setJobDescription(None)
        runs = [a + b for a, b in zip(fn_runs, post_runs)]
        drains = _drains(S.last_progress)
        out[name] = {
            "median_sec": round(statistics.median(runs), 4),
            "fn_sec": round(statistics.median(fn_runs), 4),
            "post_sec": round(statistics.median(post_runs), 4),
            "runs": [round(r, 3) for r in runs],
            "compiles": compiles,
            "drains_last_run": drains,
        }
        r = out[name]
        print(f"{name}: median={r['median_sec']:.3f}s fn={r['fn_sec']:.3f}s "
              f"post={r['post_sec']:.3f}s runs={r['runs']} compiles={compiles}",
              file=sys.stderr)
        _print_drains(drains)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
