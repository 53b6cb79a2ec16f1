"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Layers, named after the package modules they cover:

- ``build``     the query builder ``q.fn`` (``queries``, ``operators``,
                ``functions``), including the eager side jobs it runs;
- ``catalyst``  analysis of the returned frame (eager, inside ``q.fn``)
                plus analysis / optimization / planning of the final
                ``noop`` write, read from the ``QueryExecution.tracker()``
                phases of each;
- ``exec``      Spark's own execution time of the final write (the SQL
                execution's duration minus its planning phases), plus task
                counters of every Spark job the query ran, read from
                Spark's event log;
- ``pin``       ``plans.pin.lru_persist`` / ``release_persisted``;
- ``stream``    ``streaming.sources.replay_events`` / ``replay_table``
                (staging) and ``streaming.ops.run_to_memory`` (drain),
                plus the per-micro-batch ``StreamingQueryProgress``.

The final write's ``QueryExecution`` reaches Python through a
``QueryExecutionListener`` served by the py4j callback server, so the
traced pass plans each query exactly once, as an untraced pass does.

Spans are kept in memory (name, start, end, parent, query id) and written
once at the end.  Jobs, stages and tasks are attributed to the query whose
wall-clock window contains their submission / launch time: the client is
single, and stream micro-batch jobs run on the stream's own thread and job
group, so a job-group filter would miss them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import time

# name -> unit, in report order
LAYER_UNITS = {
    "build.s": "s",
    "build.jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.failed_tasks": "count",
    "pin.calls": "count",
    "pin.hits": "count",
    "pin.hit_ratio": "ratio",
    "pin.evictions": "count",
    "stream.stage_s": "s",
    "stream.drain_s": "s",
    "stream.batches": "count",
    "stream.input_rows": "count",
    "stream.microbatch_p50_ms": "ms",
    "stream.microbatch_p90_ms": "ms",
    "stream.plan_ms": "ms",
    "stream.addbatch_ms": "ms",
    "stream.offsets_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_mb": "MB",
    "stream.state_commit_ms": "ms",
    "trace.overhead_frac": "ratio",
    "trace.unattributed_s": "s",
}

# Largest share of a query's wall time its layers may leave unexplained.
LAYER_SUM_TOLERANCE = 0.05

_MB = 1_000_000
_PHASES = ("analysis", "optimization", "planning")


def _phases(jqe) -> dict[str, tuple[float, float]]:
    """``phase -> (start s, duration s)`` of a JVM ``QueryExecution``."""
    out = {}
    tracked = jqe.tracker().phases()
    for phase in _PHASES:
        opt = tracked.get(phase)
        if opt.isDefined():
            summary = opt.get()
            out[phase] = (summary.startTimeMs() / 1000.0, summary.durationMs() / 1000.0)
    return out


class _ActionListener:
    """``QueryExecutionListener`` served by the py4j callback server: keeps
    the phases and execution time of every action that ends while its
    tracer is active."""

    def __init__(self, tracer: "Tracer") -> None:
        self.tracer = tracer

    def onSuccess(self, func_name, jqe, duration_ns):
        if self.tracer.active:
            self.tracer.actions.append(
                {"func": func_name, "duration_s": duration_ns / 1e9, "phases": _phases(jqe)}
            )

    def onFailure(self, func_name, jqe, exception):
        if self.tracer.active:
            self.tracer.actions.append({"func": func_name, "duration_s": None, "phases": {}})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Span recorder plus the wrappers and listener that feed it.
    Recording happens only while ``active``."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self.queries: list[dict] = []
        self.actions: list[dict] = []
        self._stack: list[int] = []
        self._qid: str | None = None
        self._swaps: dict[int, tuple[object, object]] = {}
        self._bus = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "query": self._qid,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    # -- wrappers and listener ---------------------------------------------

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if rec is not None and name == "pin.lru_persist":
                    rec["hit"] = out is not args[0]
                elif rec is not None and name == "pin.release":
                    rec["released"] = out
            return out

        return wrapper

    def install(self) -> None:
        """Wrap the layer-boundary functions.  Call before ``load_registry``
        imports the query modules, then :meth:`sweep` after it."""
        from my_cudf_spark.plans import pin
        from my_cudf_spark.streaming import ops, sources

        for mod, attr, name in (
            (pin, "lru_persist", "pin.lru_persist"),
            (pin, "release_persisted", "pin.release"),
            (sources, "replay_events", "stream.stage"),
            (sources, "replay_table", "stream.stage"),
            (ops, "run_to_memory", "stream.drain"),
        ):
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, name)
            setattr(mod, attr, wrapped)
            self._swaps[id(orig)] = (orig, wrapped)
        self.sweep()

    def sweep(self) -> None:
        """Rebind every ``from ... import`` copy of a wrapped function in the
        package's loaded modules."""
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith("my_cudf_spark"):
                continue
            for key, val in list(vars(mod).items()):
                hit = self._swaps.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, key, hit[1])

    def listen(self, spark) -> None:
        """Register the action listener on ``spark``."""
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(_ActionListener(self))
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    # -- one traced query -------------------------------------------------

    def run_query(self, qid: str, build, execute) -> float:
        """Build and execute one query under spans; returns its wall
        seconds.  Waiting for the listener happens outside the window."""
        from my_cudf_spark.streaming import ops

        self._bus.waitUntilEmpty()
        self.actions.clear()
        ops.last_progress.clear()
        self._qid = qid
        try:
            with self.span("query") as q:
                with self.span("build") as b:
                    df = build()
                with self.span("exec") as e:
                    execute(df)
            self._bus.waitUntilEmpty()
        finally:
            self._qid = None
        self.queries.append(
            {
                "id": qid,
                "windows": {k: (s["start"], s["end"]) for k, s in
                            (("query", q), ("build", b), ("exec", e))},
                "frame_phases": _phases(df._jdf.queryExecution()),
                "write": self.actions[-1] if self.actions else None,
                "progress": [p for run in ops.last_progress for p in run["batches"]],
            }
        )
        self.actions.clear()
        ops.last_progress.clear()
        return q["end"] - q["start"]

    def note_release(self, qid: str, release) -> None:
        """Run the between-query release, charging what it frees to ``qid``."""
        self._qid = qid
        release()
        self._qid = None

    def dump(self, path: str, rows: list[dict]) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "queries": rows}, f)
            f.write("\n")


# -- event log ---------------------------------------------------------------


def read_event_log(ev_dir: str) -> dict[str, list]:
    """Job submissions, stage submissions and finished tasks from an
    uncompressed, non-rolling Spark event log directory."""
    jobs, stages, tasks = [], [], []
    for name in sorted(os.listdir(ev_dir)):
        with open(os.path.join(ev_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"] / 1000.0)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info:
                        stages.append(info["Submission Time"] / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    ok = ev.get("Task End Reason", {}).get("Reason") == "Success"
                    tasks.append(
                        (
                            info["Launch Time"] / 1000.0,
                            m.get("Executor Run Time", 0) / 1000.0,
                            m.get("Executor CPU Time", 0) / 1e9,
                            m.get("JVM GC Time", 0) / 1000.0,
                            (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB,
                            sw.get("Shuffle Bytes Written", 0) / _MB,
                            m.get("Disk Bytes Spilled", 0) / _MB,
                            0 if ok and not info.get("Failed") else 1,
                        )
                    )
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _inside(t: float, window: tuple[float, float]) -> bool:
    return window[0] <= t <= window[1]


def _self_time(all_spans: list[dict], spans: list[dict], name: str) -> float:
    """Summed duration of the outermost ``name`` spans among ``spans`` (a
    staging call nested in another staging call counts once)."""
    total = 0.0
    for s in spans:
        if s["name"] != name:
            continue
        parent = s["parent"]
        while parent is not None and all_spans[parent]["name"] != name:
            parent = all_spans[parent]["parent"]
        if parent is None:
            total += s["end"] - s["start"]
    return total


def triggers_ms(progress: list[dict]) -> list[float]:
    """Per-micro-batch ``triggerExecution`` milliseconds."""
    return [float(p.get("durationMs", {}).get("triggerExecution", 0)) for p in progress]


def query_rows(tracer: Tracer, events: dict[str, list]) -> list[dict]:
    """One row of layer metrics per traced query execution.

    ``build.s`` is the ``q.fn`` span less the returned frame's analysis;
    the catalyst phases are that analysis plus the final write's phases;
    ``exec.s`` is the write's SQL execution time as Spark measured it,
    less the optimization and planning that ran inside it.  What the
    three layers leave of the query's wall time is ``trace.unattributed_s``:
    driver work outside Spark's execution timer."""
    by_query: dict[str, list[dict]] = {}
    for s in tracer.spans:
        by_query.setdefault(s["query"], []).append(s)
    rows = []
    for q in tracer.queries:
        w = q["windows"]
        wall = w["query"][1] - w["query"][0]
        build_s = w["build"][1] - w["build"][0]
        frame = q["frame_phases"]
        analysis = 0.0
        if "analysis" in frame and _inside(frame["analysis"][0], w["build"]):
            analysis = frame["analysis"][1]
            build_s -= analysis
        write = q["write"] or {"duration_s": None, "phases": {}}
        phases = write["phases"]
        write_analysis = phases.get("analysis", (0, 0.0))[1]
        optimization = phases.get("optimization", (0, 0.0))[1]
        planning = phases.get("planning", (0, 0.0))[1]
        exec_s = (write["duration_s"] or 0.0) - optimization - planning
        analysis += write_analysis
        spans = by_query.get(q["id"], [])
        persists = [s for s in spans if s["name"] == "pin.lru_persist"]
        hits = sum(bool(s.get("hit")) for s in persists)
        released = sum(s.get("released", 0) for s in spans if s["name"] == "pin.release")
        tasks = [t for t in events["tasks"] if _inside(t[0], w["query"])]
        prog = q["progress"]
        last_state = prog[-1].get("stateOperators", []) if prog else []

        def dur(key: str) -> float:
            return float(sum(p.get("durationMs", {}).get(key, 0) for p in prog))

        rows.append(
            {
                "id": q["id"],
                "wall_s": wall,
                "build.s": build_s,
                "build.jobs": sum(_inside(t, w["build"]) for t in events["jobs"]),
                "catalyst.analysis_s": analysis,
                "catalyst.optimization_s": optimization,
                "catalyst.planning_s": planning,
                "exec.s": exec_s,
                "exec.jobs": sum(_inside(t, w["exec"]) for t in events["jobs"]),
                "exec.stages": sum(_inside(t, w["query"]) for t in events["stages"]),
                "exec.tasks": len(tasks),
                "exec.task_run_s": sum(t[1] for t in tasks),
                "exec.task_cpu_s": sum(t[2] for t in tasks),
                "exec.gc_s": sum(t[3] for t in tasks),
                "exec.shuffle_read_mb": sum(t[4] for t in tasks),
                "exec.shuffle_write_mb": sum(t[5] for t in tasks),
                "exec.spill_mb": sum(t[6] for t in tasks),
                "exec.failed_tasks": sum(t[7] for t in tasks),
                "pin.calls": len(persists),
                "pin.hits": hits,
                "pin.evictions": len(persists) - hits - released,
                "stream.stage_s": _self_time(tracer.spans, spans, "stream.stage"),
                "stream.drain_s": _self_time(tracer.spans, spans, "stream.drain"),
                "stream.batches": len(prog),
                "stream.input_rows": sum(p.get("numInputRows", 0) for p in prog),
                "stream.plan_ms": dur("queryPlanning"),
                "stream.addbatch_ms": dur("addBatch"),
                "stream.offsets_ms": dur("latestOffset") + dur("getBatch") + dur("walCommit"),
                "stream.commit_ms": dur("commitOffsets"),
                "stream.state_rows": sum(op.get("numRowsTotal", 0) for op in last_state),
                "stream.state_mb": sum(op.get("memoryUsedBytes", 0) for op in last_state) / _MB,
                "stream.state_commit_ms": float(
                    sum(op.get("commitTimeMs", 0) for p in prog for op in p.get("stateOperators", []))
                ),
                "trace.unattributed_s": wall - (build_s + analysis + optimization + planning + exec_s),
            }
        )
    return rows


def unbalanced(rows: list[dict]) -> list[dict]:
    """Rows whose layers leave more than the tolerance of the wall time."""
    return [r for r in rows if abs(r["trace.unattributed_s"]) > LAYER_SUM_TOLERANCE * r["wall_s"]]


def _pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def layer_metrics(
    rows: list[dict],
    pass_of: dict[str, int],
    traced_walls: list[float],
    plain_walls: list[float],
    plain_triggers_ms: list[float],
) -> dict[str, float]:
    """Per-pass sums of the per-query rows, median over traced passes;
    pooled ratios; micro-batch percentiles of the untraced passes."""
    per_pass: dict[int, dict[str, float]] = {}
    for r in rows:
        acc = per_pass.setdefault(pass_of[r["id"]], {})
        for k, v in r.items():
            if k == "trace.unattributed_s":
                v = abs(v)
            if k != "id":
                acc[k] = acc.get(k, 0.0) + v
    passes = list(per_pass.values())

    def med(key: str) -> float:
        return float(statistics.median(p.get(key, 0.0) for p in passes)) if passes else 0.0

    out = {name: med(name) for name in LAYER_UNITS}
    calls = sum(p.get("pin.calls", 0.0) for p in passes)
    hits = sum(p.get("pin.hits", 0.0) for p in passes)
    out["pin.hit_ratio"] = hits / calls if calls else 0.0
    out["stream.microbatch_p50_ms"] = _pct(plain_triggers_ms, 0.5)
    out["stream.microbatch_p90_ms"] = _pct(plain_triggers_ms, 0.9)
    plain = statistics.median(plain_walls) if plain_walls else 0.0
    traced = statistics.median(traced_walls) if traced_walls else 0.0
    out["trace.overhead_frac"] = (traced - plain) / plain if plain else 0.0
    return out
