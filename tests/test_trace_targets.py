"""The traced benchmark run (perfbench/tracing.py) wraps layer entry
points by attribute name; a rename would silently empty that layer's
metric. Pin that every wrapped name still exists, without installing the
tracer (it patches the classes for the whole process)."""

from __future__ import annotations

import pytest

from cnosdb_spark import engine
from cnosdb_spark.catalog import Catalog
from cnosdb_spark.sources import line_protocol

TARGETS = [
    (line_protocol, "lines_to_tables"),
    (Catalog, "insert"),
    (Catalog, "read"),
    (engine.Engine, "_register_views"),
    (engine.Engine, "sql"),
    (engine, "rewrite_dql"),
    (engine.Engine, "sql_arrow"),
    (engine.Engine, "sql_arrow_stream"),
]


@pytest.mark.parametrize(
    "owner, attr", TARGETS, ids=[f"{o.__name__}.{a}" for o, a in TARGETS]
)
def test_traced_attribute_exists(owner, attr):
    assert callable(getattr(owner, attr, None)), f"{owner.__name__}.{attr}"
