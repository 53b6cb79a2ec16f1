"""Round-12 optimization profiler: time one or more registered queries in
isolation with the bench methodology (noop sink, warmup + median of N), and
optionally dump .explain("formatted") to plans/r12/.

Usage:
  python tools_profile.py QUERY [QUERY ...] [--repeats N] [--explain TAG]
  python tools_profile.py --top 20            # 20 most expensive from BENCH_LOCAL

Each query's stderr line also gives its codegen compile count per timed
repeat (``CodegenMetrics`` delta): a warm query compiles ~0, so a non-zero
count is generated-code churn (per-call literals, or a working set larger
than the codegen cache).

This is a measurement tool only (guide §1): it never persists results and
shares bench.py's session profile so numbers are comparable.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import bench
from my_cudf_spark.queries import load_registry
from my_cudf_spark.session import codegen_compile_count, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
HERE = os.path.dirname(os.path.abspath(__file__))


def execute(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--explain", default=None,
                    help="write plans/r12/<query>_<TAG>.txt per query")
    args = ap.parse_args()

    names = list(args.names)
    if args.top:
        with open(os.path.join(HERE, "BENCH_LOCAL.json")) as f:
            q = json.load(f)["queries"]
        names += [n for n, _ in sorted(q.items(), key=lambda kv: -kv[1])[: args.top]]

    spark = get_spark("r12-profile")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_registry()
    execute(registry["ndsh_q1"].fn(spark, SF_DIR))  # session warmup

    out = {}
    for name in names:
        q = registry[name]
        if args.explain:
            df = q.fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            pdir = os.path.join(HERE, "plans", "r12")
            os.makedirs(pdir, exist_ok=True)
            with open(os.path.join(pdir, f"{name}_{args.explain}.txt"), "w") as f:
                f.write(plan)
        spark.sparkContext.setJobDescription(f"{name}: warmup")
        execute(q.fn(spark, SF_DIR))
        bench.release_pins(spark)  # cold-honest, same as bench.py (r12)
        runs, compiles = [], []
        for i in range(args.repeats):
            spark.sparkContext.setJobDescription(f"{name}: timed {i}")
            c0 = codegen_compile_count(spark)
            t0 = time.perf_counter()
            execute(q.fn(spark, SF_DIR))
            runs.append(time.perf_counter() - t0)
            compiles.append(codegen_compile_count(spark) - c0)
            bench.release_pins(spark)
        spark.sparkContext.setJobDescription(None)
        out[name] = round(statistics.median(runs), 4)
        print(f"{name}: median={out[name]:.3f}  runs={[round(r, 3) for r in runs]}"
              f"  compiles={compiles}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
