"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over ``my_cudf_spark.queries``: every implemented operator
family from SURVEY.md §2 registers a named query (Spark callable + DuckDB
oracle SQL) there; this module exposes the registry in the driver's shape.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from my_cudf_spark.queries import load_registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (NDS-H Q1) on /root/testdata/sf0.001."""
    registry = load_registry()
    return registry["ndsh_q1"].fn(spark, "/root/testdata/sf0.001")


def _last_verified_round() -> dict[str, int]:
    """name -> most recent round with a green driver CORRECTNESS row.

    The driver verifies only the first N registered queries per round, so
    ``queries()`` orders never-verified queries first and then
    least-recently-verified — every query rotates through driver
    verification across rounds with no manual re-ordering.
    """
    seen: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("rows_match") and not row.get("err"):
                seen[name] = max(seen.get(name, 0), rnd)
    return seen


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator family from SURVEY.md §2.

    Ordered never-verified first, then least-recently-verified, registry
    order breaking ties (see ``_last_verified_round``)."""
    registry = load_registry()
    seen = _last_verified_round()
    ranked = sorted(registry, key=lambda n: seen.get(n, -1))  # stable sort
    return {name: registry[name].fn for name in ranked}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL for each SQL-expressible query."""
    return {name: q.sql for name, q in load_registry().items() if q.sql is not None}
