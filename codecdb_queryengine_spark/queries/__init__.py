"""Query registries.  Each module lists its gates once, in ``GATES``: one
``Gate`` per name, holding the query and the DuckDB SQL it is checked
against.  ``__spark_entry__`` concatenates the lists and derives the
driver contract and the bench sets from them."""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


class Gate(NamedTuple):
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str
    # False: correctness-gated but not timed by bench.py, because it re-runs
    # the physical plan of a timed gate (SQL-text twins, value-gate twins).
    timed: bool = True


def oracle_of(gates: list[Gate], name: str) -> str:
    """The oracle SQL registered under ``name`` in ``gates``."""
    return next(g.oracle for g in gates if g.name == name)
