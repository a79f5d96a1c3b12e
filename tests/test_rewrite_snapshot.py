"""Snapshot of the SQL ``rewrite_dql`` emits for the CnosDB time-series
functions: every gauge accessor and bare ``gauge_agg``, ``state_agg`` /
``compact_state_agg`` / ``duration_in`` (2-4 arguments) / ``state_at``,
``first``/``last``, ``increase … ORDER BY time``, ``sample`` and
``time_window`` (tumbling, sliding, sliding with a slide that does not
divide the window, with a start time).

``rewrite_dql_snapshots.json`` maps each input statement to its expected
output, or to ``{"error": <message>}`` when the rewrite must reject it.
Besides the statements above it holds every statement a run of the test
suite and of perfbench's query shapes sends through ``rewrite_dql`` whose
text the rewrite changes or rejects. The Engine runs exactly this text, so
a change here is a change of Engine behaviour: update the file only for a
deliberate change of the emitted SQL."""

from __future__ import annotations

import json
import os

import pytest

from cnosdb_spark.sql.rewriter import rewrite_dql

_SNAPSHOTS = json.load(
    open(os.path.join(os.path.dirname(__file__), "rewrite_dql_snapshots.json"))
)


@pytest.mark.parametrize("sql", list(_SNAPSHOTS))
def test_rewrite_dql_snapshot(sql):
    want = _SNAPSHOTS[sql]
    if isinstance(want, dict):
        with pytest.raises(Exception) as exc:
            rewrite_dql(sql)
        assert str(exc.value) == want["error"]
    else:
        assert rewrite_dql(sql) == want
