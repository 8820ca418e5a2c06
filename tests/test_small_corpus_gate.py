"""The small-corpus gate (operators/util.py): one place decides when an
operator leaves Spark for its driver tier or persists a shared subtree."""

from __future__ import annotations

import pathlib
import re

import pytest
from conftest import forced_distributed, spark_conf

from lichess_event_stream_watcher_spark.operators import session_cache
from lichess_event_stream_watcher_spark.operators.util import (
    persist_if_small,
    small_corpus_cache_limit,
    small_corpus_pdf,
)

PKG = pathlib.Path(__file__).resolve().parent.parent / "lichess_event_stream_watcher_spark"


def test_gate_decision_lives_in_util_only():
    """Only operators/util.py estimates plan sizes or reads the gate
    setting; every other module goes through its helpers."""
    offenders = [
        str(f.relative_to(PKG))
        for f in PKG.rglob("*.py")
        if f != PKG / "operators" / "util.py"
        and re.search(r"\b(plan_size_bytes|small_corpus_cache_limit)\(", f.read_text())
    ]
    assert offenders == []


def test_malformed_gate_setting_raises(spark):
    df = spark.range(3)
    with spark_conf(spark, "lesw.smallCorpusCacheBytes", "1g"):
        with pytest.raises(ValueError, match="lesw.smallCorpusCacheBytes"):
            small_corpus_cache_limit(df)
        with pytest.raises(ValueError, match="lesw.smallCorpusCacheBytes"):
            small_corpus_pdf(df)


def test_collect_helper_gates_and_null_bail(spark):
    # a Range plan carries a size estimate (a Python-list frame does not)
    df = spark.range(2).selectExpr(
        "IF(id = 1, NULL, id) AS id", "CAST(id AS STRING) AS s"
    )
    assert len(small_corpus_pdf(df)) == 2
    assert small_corpus_pdf(df, nonnull=("s",)) is not None
    assert small_corpus_pdf(df, nonnull=("id",)) is None
    assert len(small_corpus_pdf(df.limit(0), df, nonnull=("id",))) == 0
    with forced_distributed(spark):
        assert small_corpus_pdf(df) is None
    # the gate frames, not the collected frame, decide
    with spark_conf(spark, "lesw.smallCorpusCacheBytes", "1"):
        assert small_corpus_pdf(df.limit(0), df) is None


def test_persist_helper_registers_only_admitted_inputs(spark):
    df = spark.range(10)
    session_cache.release_session_caches()
    with forced_distributed(spark):
        assert persist_if_small(df.selectExpr("id * 2 AS x"), df).storageLevel.useMemory is False
    assert session_cache._SESSION_CACHES == []
    kept = persist_if_small(df.selectExpr("id * 2 AS x"), df)
    assert kept.storageLevel.useMemory
    assert session_cache._SESSION_CACHES == [kept]
