"""Streaming strict-order funnel — the stream twin of
events_funnel_ordered: per-entity funnel progression maintained across
micro-batches, with LATE events allowed to rewrite the progression
(an earlier-timestamped 'view' arriving late can unlock clicks that were
already seen).

Arrival-order independence by RECOMPUTATION over retained history (the
stream_pit correction pattern applied to stage folds): per-entity state
keeps the entity's funnel-step events (ts, event_id, step), every batch
that touches an entity re-runs the greedy earliest-progression fold over
the sorted retained history, and emissions carry a strictly-monotone
version (events seen for that entity) — the max-version row per entity is
therefore a pure function of the final event set, equal to the batch
fold whatever the chunking.

State is bucketed (hash(entity) % buckets → flat parallel arrays): one
Arrow round-trip per bucket per batch instead of one per entity — the
repo's bucketed-state pattern.  Per-batch work is ONE lexsort of the
bucket's retained events plus a searchsorted slice per touched entity
(never a per-entity boolean mask over the whole bucket, which would be
O(touched × bucket_events) — quadratic over stream life).

State is BOUNDED under ``seal_lag``: the bucket tracks the max event
time seen, and events older than ``max_ts − seal_lag`` compact into a
per-entity ``(stage, since, n_sealed)`` triple — the greedy fold is a
left fold over (ts, event_id)-sorted events, so folding a time-prefix
into the base and continuing from it is exact, PROVIDED no event arrives
more than ``seal_lag`` behind the running max (the same promise an
event-time watermark makes).  ``seal_lag=None`` (default) retains
everything — the replay-twin mode, exact under arbitrary lateness.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

from my_cudf_spark.streaming.pystate import bucket, python_state

__all__ = ["stream_funnel"]

_LONG_MIN = -(2**63)


def _fold(
    uts: np.ndarray,
    ust: np.ndarray,
    n_steps: int,
    stage: int = 0,
    since: int = _LONG_MIN,
) -> tuple[int, int]:
    """Greedy earliest-progression fold over (ts, eid)-sorted step events,
    continuing from a prior (stage, since) base (the left-fold split the
    sealing contract relies on)."""
    for t, s in zip(uts, ust):
        if s == stage and stage < n_steps and (stage == 0 or t > since):
            stage += 1
            since = int(t)
    return stage, since


STATE = (
    "su array<long>, sstage array<int>, ssince array<long>,"
    " sn array<long>, us array<long>, ts array<long>,"
    " eid array<long>, st array<int>, wm long"
)


def _make_step(n_steps: int, seal_lag: int | None):
    """Per-bucket fold (module-level so the seal / fold-split logic is
    unit-testable with a controlled batch order — the file-replay harness
    delivers chunks in arbitrary order, which a bounded ``seal_lag`` by
    contract does not cover)."""

    def step(_bkt, state, new):
        su, sstage, ssince, sn, us, ts, eid, st = (
            a.astype(np.int64) for a in state[:8]
        )
        wm = _LONG_MIN if state[8] is None else state[8]
        us = np.concatenate([us, new["__u"].to_numpy(np.int64)])
        ts = np.concatenate([ts, new["__ts"].to_numpy(np.int64)])
        eid = np.concatenate([eid, new["__eid"].to_numpy(np.int64)])
        st = np.concatenate([st, new["__step"].to_numpy(np.int64)])
        # ONE sort of the bucket's retained history per batch; per-user
        # slices come from searchsorted on the user-major order
        order = np.lexsort((eid, ts, us))
        us, ts, eid, st = us[order], ts[order], eid[order], st[order]

        def sealed_base(u: int) -> tuple[int, int, int]:
            i = int(np.searchsorted(su, u))
            if i < len(su) and su[i] == u:
                return int(sstage[i]), int(ssince[i]), int(sn[i])
            return 0, _LONG_MIN, 0

        touched = np.unique(new["__u"].to_numpy(np.int64))
        starts = np.searchsorted(us, touched, side="left")
        ends = np.searchsorted(us, touched, side="right")
        out_u, out_stage, out_ver = [], [], []
        for u, a, b in zip(touched, starts, ends):
            stage0, since0, n0 = sealed_base(int(u))
            stage, _ = _fold(ts[a:b], st[a:b], n_steps, stage0, since0)
            out_u.append(int(u))
            out_stage.append(stage)
            out_ver.append(n0 + int(b - a))

        if seal_lag is not None and len(ts):
            wm = max(wm, int(ts.max()))
            thr = wm - seal_lag
            old = ts < thr
            if old.any():
                # fold each user's sub-threshold prefix into its base;
                # retained events stay in the live arrays
                base = {
                    int(u): list(sealed_base(int(u)))
                    for u in np.unique(us[old])
                }
                o_us, o_ts, o_st = us[old], ts[old], st[old]
                uniq = np.unique(o_us)
                bounds = np.searchsorted(o_us, uniq)
                for i, u in enumerate(uniq):
                    a = bounds[i]
                    b = bounds[i + 1] if i + 1 < len(uniq) else len(o_us)
                    e = base[int(u)]
                    e[0], e[1] = _fold(
                        o_ts[a:b], o_st[a:b], n_steps, e[0], e[1]
                    )
                    e[2] += int(b - a)
                merged = {
                    int(u): (int(sg), int(sc), int(n))
                    for u, sg, sc, n in zip(su, sstage, ssince, sn)
                }
                merged.update({u: tuple(e) for u, e in base.items()})
                keys_sorted = sorted(merged)
                su = np.array(keys_sorted, dtype=np.int64)
                sstage = np.array(
                    [merged[u][0] for u in keys_sorted], np.int64
                )
                ssince = np.array(
                    [merged[u][1] for u in keys_sorted], np.int64
                )
                sn = np.array([merged[u][2] for u in keys_sorted], np.int64)
                keep = ~old
                us, ts, eid, st = us[keep], ts[keep], eid[keep], st[keep]

        out = pd.DataFrame(
            {
                "user": out_u,
                "stage": pd.array(out_stage, dtype="int32"),
                "version": out_ver,
            }
        )
        return (su, sstage, ssince, sn, us, ts, eid, st, wm), out

    return step


def stream_funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    id_col: str,
    type_col: str,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    buckets: int = 8,
    seal_lag: int | None = None,
) -> DataFrame:
    """Streaming funnel over (user, ts, event_id, event_type) rows — see
    module docstring.  Emits ``(user, stage, version)`` for every entity
    a micro-batch touches; fold with ``max_by(stage, version)`` per
    user.  Greedy semantics match
    :func:`~my_cudf_spark.queries.event_queries.events_funnel_ordered`:
    first step at the earliest event, each later step strictly AFTER the
    previous step's match.

    ``seal_lag`` (µs, optional) bounds state: events older than the
    bucket's max seen event time minus the lag compact into a per-user
    (stage, since, count) base — exact as long as lateness stays within
    the lag.  User and event ids must be integral types (int64 state
    arrays; a wider key would need string-keyed state — raise early
    rather than corrupt at runtime)."""
    for c, what in ((user_col, "user_col"), (id_col, "id_col")):
        if not isinstance(
            df.schema[c].dataType, (ByteType, ShortType, IntegerType, LongType)
        ):
            raise TypeError(
                f"stream_funnel {what} must be an integral type, got "
                f"{df.schema[c].dataType.simpleString()} (int64 state arrays)"
            )
    bkt = bucket(["__u"], buckets)
    step_idx = F.array_position(
        F.array(*[F.lit(s) for s in steps]), F.col(type_col)
    )
    rows = (
        df.filter(F.col(type_col).isin(list(steps)))
        .select(
            F.col(user_col).alias("__u"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__ts"),
            F.col(id_col).alias("__eid"),
            (step_idx - 1).cast("int").alias("__step"),
        )
        .withColumn("__bkt", bkt)
    )
    return python_state(
        rows,
        ["__bkt"],
        STATE,
        "user long, stage int, version long",
        _make_step(len(steps), seal_lag),
    )
