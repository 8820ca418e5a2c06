"""Run every registered query against the DuckDB oracle exactly the way the
driver does (sorted columns, order-insensitive values) at the test SF."""

from __future__ import annotations

import pytest

from lichess_event_stream_watcher_spark import queries as q
from tests.oracle_harness import compare


def _pairs():
    # every registered query carries an oracle (tests/test_registry_policy.py)
    return list(q.all_oracles().items())


@pytest.mark.parametrize("name,oracle", _pairs(), ids=[n for n, _ in _pairs()])
def test_query_matches_oracle(spark, duck, sf_dir, name, oracle):
    df = q.all_queries()[name](spark, sf_dir)
    compare(df, duck, oracle)

