from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lichess_event_stream_watcher_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("lesw-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(autouse=True)
def _drain_session_caches():
    """The harness contract from operators/session_cache.py: loops call
    release_session_caches BETWEEN queries. Without this drain a test
    whose operator registers a session cache (cost census, containment,
    band sweep, charlm) leaves its persisted plan in the CacheManager,
    and any LATER test whose plan shares that subtree silently gets an
    InMemoryRelation substituted — breaking plan-shape assertions
    (Generate/Exchange counts) and accumulating storage across the
    suite."""
    yield
    from lichess_event_stream_watcher_spark.operators.session_cache import (
        release_session_caches,
    )

    release_session_caches()


@contextmanager
def spark_conf(spark, key, value):
    """Set one session conf for the block, restoring the prior value (or
    unsetting it) afterwards."""
    prior = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def forced_distributed(spark):
    """Close the small-corpus gate for the block, so every operator takes
    its distributed shape — the 100 TB plan that test-sized inputs
    otherwise never reach."""
    return spark_conf(spark, "lesw.smallCorpusCacheBytes", "0")


def driver_tier_df(spark, rows, ddl):
    """A pandas-built frame of ``rows``: a LocalRelation whose size
    Catalyst knows, so the small-corpus gate admits it (a frame built from
    a Python list carries no size estimate and never reaches the driver
    tiers)."""
    import pandas as pd

    from lichess_event_stream_watcher_spark.operators.util import small_corpus_pdf

    names = [c.split()[0] for c in ddl.split(",")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=names), ddl)
    assert small_corpus_pdf(df) is not None, "the gate does not admit the frame"
    return df


def on_each_tier(spark, run):
    """``run()`` with the small-corpus gate open (the driver tiers), then
    closed (the distributed shapes): {tier: result}."""
    driver = run()
    with forced_distributed(spark):
        return {"driver": driver, "distributed": run()}


@pytest.fixture()
def duck(sf_dir):
    # FUNCTION-scoped on purpose: duckdb 1.0.0's buffer accounting leaks
    # across a long-lived connection under this suite's 130+ heavy oracle
    # queries (recursive CTEs, 80 KB literal-codebook SQL) — late tests
    # start failing with OutOfMemoryException ("failed to allocate 16384
    # bytes") while the machine has >100 GB free. A fresh connection per
    # test costs ~ms (views over parquet are lazy) and removes the
    # accumulation entirely.
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def driver_norm(df):
    """The driver compare's normalize, shared by the staged-row dress
    rehearsals (and mirrored in .claude/skills/verify/harness.py): sort
    columns by name, floats to 6-decimal strings, NaN/None -> ''."""
    import math

    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return ""
        if isinstance(v, float):
            return format(round(v, 6), ".6f")
        return str(v)

    return sorted(tuple(cell(v) for v in r) for r in df.itertuples(index=False, name=None))
