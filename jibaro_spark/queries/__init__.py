"""Declared-query registry — the correctness/coverage surface.

Every operator from SURVEY.md §2 that the engine claims is backed by a
declared query here: a PySpark callable ``(spark, sf_dir) -> DataFrame``
plus (where SQL-expressible) an equivalent DuckDB oracle SQL string.
The driver executes both at sf0.01 and hash-compares values.
"""

from jibaro_spark.queries.registry import REGISTRY, DeclaredQuery, declare, load_tables

# Importing the family modules populates REGISTRY via @declare decorators.
from jibaro_spark.queries import relational  # noqa: E402,F401
from jibaro_spark.queries import events  # noqa: E402,F401
from jibaro_spark.queries import timeseries  # noqa: E402,F401
from jibaro_spark.queries import text  # noqa: E402,F401
from jibaro_spark.queries import dedup  # noqa: E402,F401
from jibaro_spark.queries import similarity  # noqa: E402,F401
from jibaro_spark.queries import graph  # noqa: E402,F401
from jibaro_spark.queries import stat_tests  # noqa: E402,F401
from jibaro_spark.queries import stat_models  # noqa: E402,F401
from jibaro_spark.queries import sketches  # noqa: E402,F401
from jibaro_spark.queries import pipeline  # noqa: E402,F401

__all__ = ["REGISTRY", "DeclaredQuery", "declare", "load_tables"]
