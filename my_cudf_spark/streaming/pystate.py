"""Python stream state — the one kernel every non-native stateful operator
runs through.

Stream state that fits an aggregate stays in Spark's native aggregation
(``stateful.py``).  State that does not — reservoirs, version histories,
inverted band/shingle indexes, posting lists, Bloom words — is a fold over
NumPy arrays, and this module is the only place that talks to
``applyInPandasWithState``.  An operator supplies

- ``state_schema``: a DDL struct of ``array<T>`` columns and scalars;
- ``out_schema``: the DDL of the rows it emits;
- ``step(key, state, new) -> (state, out_pdf)``: its fold.  ``state`` is a
  tuple in ``state_schema`` order, ``new`` the group's rows of this
  micro-batch as one pandas frame (never empty), ``out_pdf`` the rows to
  emit.

The kernel owns the Arrow state format end to end:

- decoding: every ``array<T>`` arrives as a NumPy array of T's dtype
  (``int`` → int32, ``bigint`` → int64, ``double`` → float64, …; an
  integral/boolean array holding NULLs, and every other element type,
  arrives as an object array), zero-length when the group has no state
  yet; a scalar arrives as its Python value, ``None`` without state;
- encoding: NumPy arrays go back through ``tolist()`` (C speed), pandas
  columns and object arrays with NA scalars as ``None``;
- the group call: empty padding frames are dropped, a group without rows
  emits a typed empty frame, output mode is ``update`` with no timeout.

``bucket`` keys the state store on ``hash(cols) % buckets`` instead of the
raw key, so a micro-batch pays one vectorized step per bucket rather than
one Python call per key; every bucketed operator builds its key with it,
which is where a bad bucket count fails.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, StructType, _parse_datatype_string

__all__ = ["bucket", "empty_state", "frame", "python_state"]

Step = Callable[[tuple, tuple, pd.DataFrame], "tuple[tuple, pd.DataFrame]"]

_NP = {
    "tinyint": np.int8,
    "smallint": np.int16,
    "int": np.int32,
    "bigint": np.int64,
    "float": np.float32,
    "double": np.float64,
    "boolean": np.bool_,
}

# Arrow → pandas turns a NULL-bearing int64 column into float64/object, so
# a fold that merges state rows against batch rows on NULL-bearing keys
# would raise on mismatched merge dtypes.  Normalizing both sides to the
# pandas nullable dtype derived from the Spark type keeps merge/groupby
# keys comparable and NULL keys representable.
_PD_NULLABLE = {
    "tinyint": "Int8",
    "smallint": "Int16",
    "int": "Int32",
    "bigint": "Int64",
    "boolean": "boolean",
    "string": "string",
}


def bucket(cols: Sequence[str | Column], buckets: int) -> Column:
    """State-store key ``pmod(hash(cols), buckets)``; raises when the plan
    is built if ``buckets < 1`` (``pmod(x, 0)`` would otherwise fail
    inside the first micro-batch)."""
    if buckets < 1:
        raise ValueError(f"buckets must be positive, got {buckets}")
    return F.pmod(
        F.hash(*[F.col(c) if isinstance(c, str) else c for c in cols]),
        F.lit(buckets),
    )


def _norm_nullable(pdf: pd.DataFrame, types: dict[str, str]) -> pd.DataFrame:
    """Cast columns to their Spark-type-derived pandas nullable dtype
    (see _PD_NULLABLE); other types (double, timestamp…) pass through —
    their pandas representation is already null-stable."""
    for c, t in types.items():
        want = _PD_NULLABLE.get(t)
        if want is not None and str(pdf[c].dtype) != want:
            pdf[c] = pdf[c].astype(want)
    return pdf


def _plain_list(s: Any) -> list:
    """Column → list with NA scalars as None (the Arrow state encoder
    accepts None, never pd.NA/NaN, inside typed state arrays)."""
    return [None if pd.isna(v) else v for v in s.tolist()]


def frame(cols: Sequence[str], arrays: Sequence[Any], types: dict[str, str]) -> pd.DataFrame:
    """State arrays (or batch columns) as one frame with ``_norm_nullable``
    dtypes — the form folds that merge state against batch rows on
    NULL-bearing keys work in."""
    pdf = pd.DataFrame({c: pd.Series(a) for c, a in zip(cols, arrays)})
    return _norm_nullable(pdf.infer_objects(), {c: types[c] for c in cols})


def _decode(t: str, values: Sequence[Any]) -> np.ndarray:
    dt = _NP.get(t)
    if dt is None or (t in _PD_NULLABLE and None in values):
        out = np.empty(len(values), dtype=object)
        out[:] = values
        return out
    return np.asarray(values, dtype=dt)


def _encode(v: Any) -> Any:
    if isinstance(v, np.ndarray) and v.dtype != object:
        return v.tolist()
    if isinstance(v, (np.ndarray, pd.Series, pd.api.extensions.ExtensionArray)):
        return _plain_list(v)
    return v


def _fields(schema: str) -> StructType:
    st = _parse_datatype_string(schema)
    assert isinstance(st, StructType), schema
    return st


def empty_state(state_schema: str) -> tuple:
    """The state a group starts from: zero-length typed arrays, ``None``
    scalars."""
    return tuple(
        _decode(f.dataType.elementType.simpleString(), [])
        if isinstance(f.dataType, ArrayType)
        else None
        for f in _fields(state_schema).fields
    )


def python_state(
    rows: DataFrame,
    group_cols: Sequence[str],
    state_schema: str,
    out_schema: str,
    step: Step,
) -> DataFrame:
    """Run ``step`` over ``rows.groupBy(group_cols)`` with cross-batch
    state (see module docstring); returns the update stream of the rows
    ``step`` emits."""
    elem = [
        f.dataType.elementType.simpleString() if isinstance(f.dataType, ArrayType) else None
        for f in _fields(state_schema).fields
    ]
    blank = empty_state(state_schema)
    out_fields = _fields(out_schema).fields

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        batch = [pdf for pdf in pdfs if len(pdf)]
        if not batch:
            yield pd.DataFrame(
                {
                    f.name: pd.Series(dtype=_NP.get(f.dataType.simpleString(), object))
                    for f in out_fields
                }
            )
            return
        new = batch[0] if len(batch) == 1 else pd.concat(batch, ignore_index=True)
        if state.exists:
            old = tuple(
                v if t is None else _decode(t, v) for t, v in zip(elem, state.get)
            )
        else:
            old = blank
        nxt, out = step(key, old, new)
        state.update(tuple(_encode(v) for v in nxt))
        yield out

    return rows.groupBy(*group_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
