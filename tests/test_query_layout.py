"""Layout guard for the declared-query package: queries live in the
operator-family modules that ``queries/__init__`` imports."""

from __future__ import annotations

import ast
import os

import jibaro_spark.queries as queries
from jibaro_spark.queries import REGISTRY

QDIR = os.path.dirname(queries.__file__)


def _family_modules() -> set[str]:
    with open(os.path.join(QDIR, "__init__.py")) as f:
        tree = ast.parse(f.read())
    return {
        f"jibaro_spark.queries.{a.name}"
        for node in tree.body
        if isinstance(node, ast.ImportFrom) and node.module == "jibaro_spark.queries"
        for a in node.names
    }


def test_queries_live_in_family_modules():
    assert not [f for f in os.listdir(QDIR) if f.startswith("round") and f.endswith(".py")]
    families = _family_modules()
    strays = {q.name: q.fn.__module__ for q in REGISTRY.values() if q.fn.__module__ not in families}
    assert not strays
    assert len(REGISTRY) == 356
