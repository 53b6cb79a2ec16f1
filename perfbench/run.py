"""Layered benchmark for my_cudf_spark.

    python3 perfbench/run.py --workload iterative_build --seed 1 --seconds 10 --trace 0

One process, one closed-loop client on ``local[4]``: each pass runs every
query of the workload once, each query to completion before the next
(``q.fn(spark, sf)`` forced with the ``noop`` sink, the repository's
cold-honest protocol: persisted pins and the SQL cache are dropped between
queries, outside the timed region).  ``--seed`` only permutes the query
order of every pass.

A run:

1. makes a private work directory under ``.perfbench_work/`` in the
   checkout that holds the input tables (``datagen.py``, or ``--data``),
   the warehouse, stream checkpoints, replay staging, temp files, event
   log and spans (unless ``--spans`` names another file), and deletes it
   at exit;
2. set-up, timed as ``setup_s``: session start, ``load_registry()`` and
   one warm-up pass whose collected results then go through the DuckDB
   oracle gate (the comparison itself is untimed);
3. timed passes until ``--seconds`` have elapsed and at least
   ``--passes`` have run;
4. prints one JSON line.  ``--trace 0`` reports the end-to-end metrics;
   ``--trace 1`` alternates untraced and traced passes and reports the
   per-layer metrics of ``layers.py``.

``attempted`` counts query executions (warm-up included); ``failed``
counts those that raised or failed the oracle gate.  A traced run whose
layers leave more than 5% of some query's wall time unexplained is not
``correct``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Each workload runs a subset of its query family, chosen from the rows
# the ROADMAP's driver-build and bucketed-state items target: a run
# (session start, warm-up pass, four timed passes) has to stay near 60 s.
WORKLOADS = {
    # eager localCheckpoints, driver loops and lru_persist inside q.fn
    "iterative_build": [
        "text_classifier_train_apply",
        "vec_kmeans",
        "text_bpe_learn",
        "dedup_clusters",
    ],
    # staged replay drained micro-batch by micro-batch through one stateful
    # operator: bucketed keep-latest state feeding merge_upsert, and the
    # per-key weighted reservoir
    "stream_stateful": ["stream_cdc_merge_replay", "stream_reservoir_replay"],
}

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}

CPUS = 4
DRIVER_MEMORY = "2g"
SF = 0.01
# The first timed pass still runs slower than later ones (JIT and codegen
# caches keep warming after the warm-up pass), so every run times the
# same number of passes and that bias is the same in every run's median.
MIN_PASSES = 4


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _prepare_env(work: str, trace: bool) -> dict[str, str]:
    """Point every file Spark or the package writes at ``work``; returns
    the named subdirectories.  Must run before the JVM starts."""
    dirs = {k: os.path.join(work, k) for k in ("data", "tmp", "local", "warehouse", "events")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        # a fixed-size heap keeps the JVM's peak RSS from following GC
        # heap resizing
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={work}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": dirs["events"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    return dirs


def _oracle(data: str):
    """DuckDB connection with one view per input table."""
    import duckdb

    from my_cudf_spark.sources import TABLES

    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(data, f"{name}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _mismatch(got, con, sql: str | None) -> str | None:
    """None when the collected frame ``got`` passes the gate, else why:
    exact comparison (the repository's differential-test check) when the
    query has oracle SQL, a non-empty result otherwise."""
    if sql is None:
        return None if len(got) > 0 else "no rows"
    from conftest import assert_matches_oracle

    try:
        assert_matches_oracle(types.SimpleNamespace(toPandas=lambda: got), con, sql)
    except AssertionError as e:
        return str(e).splitlines()[0]
    return None


def _jvm_peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM (the gateway child process)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, work: str) -> dict:
    trace = bool(args.trace)
    dirs = _prepare_env(work, trace)
    os.chdir(work)  # anything written to a relative path stays in the work dir
    if args.data:
        data = args.data
    else:
        import datagen

        data = dirs["data"]
        rows = datagen.generate(data, args.sf)
        _log(f"generated sf={args.sf}: lineitem={rows['lineitem']} events={rows['events']}")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]  # package; oracle check
    rng = random.Random(args.seed)
    names = WORKLOADS[args.workload]

    def order() -> list[str]:
        return rng.sample(names, len(names))

    tracer = None
    if trace:
        import layers

        tracer = layers.Tracer()
        tracer.install()

    from my_cudf_spark.plans import pin
    from my_cudf_spark.queries import load_registry
    from my_cudf_spark.session import get_spark
    from my_cudf_spark.streaming import ops

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_registry()
    setup_s = time.perf_counter() - t0
    if tracer is not None:
        tracer.sweep()
        tracer.listen(spark)

    def release() -> None:
        pin.release_persisted()
        spark.catalog.clearCache()

    def execute(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    attempted = failed = 0

    # warm-up pass = oracle pass: its collected results are checked below
    results = {}
    for name in order():
        attempted += 1
        t = time.perf_counter()
        try:
            results[name] = registry[name].fn(spark, data).toPandas()
        except Exception:
            failed += 1
            _log(f"{name} raised in warm-up:\n{traceback.format_exc()}")
        setup_s += time.perf_counter() - t
        release()
    con = _oracle(data)
    for name, got in results.items():
        try:
            why = _mismatch(got, con, registry[name].sql)
        except Exception as e:
            why = f"oracle raised {type(e).__name__}: {e}"
        if why is not None:
            failed += 1
            _log(f"{name} failed the oracle gate: {why}")
    con.close()
    results.clear()

    # timed passes; traced runs also keep the untraced passes' micro-batch
    # progress, so micro-batch latency is measured without spans
    ops.collect_progress = trace
    plain_walls: list[float] = []
    traced_walls: list[float] = []
    plain_triggers: list[float] = []
    pass_of: dict[str, int] = {}
    query_s: dict[str, list[float]] = {}
    # traced runs order their passes untraced, traced, traced, untraced
    # (repeating), so the JVM's warm-up trend cancels out of the
    # traced-versus-untraced comparison
    min_passes = max(4, args.passes) if trace else args.passes
    start = time.perf_counter()
    n = 0
    while True:
        traced = trace and n % 4 in (1, 2)
        if tracer is not None:
            tracer.active = traced
        wall = 0.0
        for name in order():
            attempted += 1
            qid = f"{n}:{name}"
            build = registry[name].fn
            try:
                if traced:
                    dt = tracer.run_query(qid, lambda: build(spark, data), execute)
                    pass_of[qid] = n
                else:
                    ops.last_progress.clear()
                    t = time.perf_counter()
                    execute(build(spark, data))
                    dt = time.perf_counter() - t
                    if trace:
                        plain_triggers += layers.triggers_ms(
                            [p for r in ops.last_progress for p in r["batches"]]
                        )
                wall += dt
                query_s.setdefault(name, []).append(round(dt, 3))
            except Exception:
                failed += 1
                _log(f"{name} raised in pass {n}:\n{traceback.format_exc()}")
            if traced:
                tracer.note_release(qid, release)
            else:
                release()
        (traced_walls if traced else plain_walls).append(wall)
        n += 1
        if n >= min_passes and time.perf_counter() - start >= args.seconds:
            break

    if tracer is not None:
        tracer.active = False
    py_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm_rss_mb = _jvm_peak_rss_mb(spark)
    _stop(spark)
    _log(f"peak rss: python={py_rss_mb:.0f} MB jvm={jvm_rss_mb:.0f} MB")
    _log(f"passes: plain={[round(w, 3) for w in plain_walls]} traced={[round(w, 3) for w in traced_walls]}")
    _log(f"query seconds by pass: {query_s}")

    correct = failed == 0
    if tracer is None:
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(plain_walls),
            "peak_rss_mb": py_rss_mb + jvm_rss_mb,
        }
        units = E2E_UNITS
    else:
        per_query = layers.query_rows(tracer, layers.read_event_log(dirs["events"]))
        metrics = layers.layer_metrics(
            per_query, pass_of, traced_walls, plain_walls, plain_triggers
        )
        for r in layers.unbalanced(per_query):
            correct = False
            _log(
                f"layer-sum check: {r['id']} leaves {r['trace.unattributed_s']:.3f} s "
                f"of {r['wall_s']:.3f} s unexplained"
            )
        tracer.dump(args.spans or os.path.join(work, "spans.json"), per_query)
        units = layers.LAYER_UNITS
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True, help="permutes the query order")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help="scale factor of the generated tables")
    ap.add_argument("--data", help="read the tables from this directory instead of generating them")
    ap.add_argument(
        "--passes", type=int, default=MIN_PASSES, help="minimum number of timed passes"
    )
    ap.add_argument("--spans", help="write the traced run's spans to this file")
    args = ap.parse_args(argv)
    for key in ("data", "spans"):
        if getattr(args, key):
            setattr(args, key, os.path.abspath(getattr(args, key)))

    if not os.path.isdir(os.path.join(ROOT, "my_cudf_spark")):
        print(f"my_cudf_spark not found next to {HERE}", file=sys.stderr)
        return 2
    parent = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(parent, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=parent)
    try:
        result = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:
            pass  # another run still uses it
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
