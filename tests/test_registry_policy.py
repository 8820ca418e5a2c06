"""Registry policy guards (no SparkSession needed).

Every registered query must carry a DuckDB oracle, so that
``tests/test_oracle_parity.py`` hash-checks the whole registry on every
run instead of settling for a row count.
"""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_query_has_an_oracle():
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    missing = sorted(n for n in qs if n not in oracles)
    assert not missing, f"queries registered without an oracle: {missing}"
    stray = sorted(n for n in oracles if n not in qs)
    assert not stray, f"oracles without a registered query: {stray}"


def test_scale_probe_fit_and_fixture_helpers():
    """scale_probe's pure helpers: the log-log fit recovers known
    exponents, and the fixture constants are what SCALE.md documents."""
    import sys

    sys.path.insert(0, REPO)
    import scale_probe as sp

    assert sp._fit_exponent({1: 2.0, 4: 8.0, 8: 16.0}) == 1.0  # linear
    assert sp._fit_exponent({1: 1.0, 4: 16.0, 8: 64.0}) == 2.0  # quadratic
    assert abs(sp._fit_exponent({4: 10.0, 8: 10.0})) < 1e-9  # flat tail
    assert "documents" in sp.TABLES and "embeddings" in sp.TABLES
