"""The shape of an engine micro-batch, read from Spark's status tracker:
how many jobs a batch runs, that it persists nothing across batches, that
a dry-run shuffles nothing, and how many rows reach the driver."""

from __future__ import annotations

import pytest
import test_engine_golden as golden

from lichess_event_stream_watcher_spark.control.engine import Engine
from lichess_event_stream_watcher_spark.control.sinks import CollectingSink
from lichess_event_stream_watcher_spark.rules.model import (
    Action,
    Criterion,
    CriterionKind,
    Rule,
)
from lichess_event_stream_watcher_spark.rules.store import SignupRulesManager


@pytest.fixture()
def engine(spark, tmp_path):
    """The golden scenario's engine: every criterion kind, a CODE rule
    reading country()/device(), a GeoIP range table wired."""
    from lichess_event_stream_watcher_spark import fixtures

    store = SignupRulesManager(str(tmp_path / "rules.json"))
    for r in golden._rules():
        store.add_rule(r)
    return Engine(
        store,
        geoip_ranges=fixtures.geoip_ranges_df(spark),
        now_fn=lambda: golden.NOW,
    )


def _jobs(spark, group, fn):
    """Run ``fn`` under a job group; the stage ids of each job it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job starts reach the status store through the asynchronous listener
    # bus: drain it before reading the tracker
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    st = sc.statusTracker()
    infos = [st.getJobInfo(j) for j in sorted(st.getJobIdsForGroup(group))]
    return [list(info.stageIds) for info in infos if info is not None]


def test_batch_runs_at_most_two_jobs(spark, engine):
    """One job for the GeoIP broadcast and one for the collect of the tail
    and the matches: no cache build, no union, no separate match collect."""
    engine.process_batch(spark.createDataFrame(golden.BATCH_1, golden.DDL))  # warm
    for k in range(2):
        df = spark.createDataFrame(golden.BATCH_1, golden.DDL)
        jobs = _jobs(spark, f"engine-plan-batch-{k}", lambda: engine.process_batch(df))
        assert 1 <= len(jobs) <= 2, jobs


def test_batches_persist_nothing(spark, engine):
    """Memory stays bounded: five batches leave the persisted-RDD count
    where the first batch left it."""
    count = lambda: spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: E731
    engine.process_batch(spark.createDataFrame(golden.BATCH_1, golden.DDL))
    after_first = count()
    for _ in range(4):
        engine.process_batch(spark.createDataFrame(golden.BATCH_2, golden.DDL))
    assert count() == after_first


def test_dry_run_runs_no_shuffle(spark, engine):
    """A dry-run is one LocalRelation row: every job it runs is a single
    stage, so nothing is shuffled."""
    engine.process_user(spark, golden.DRY_RUN)  # warm
    jobs = _jobs(spark, "engine-plan-dryrun", lambda: engine.process_user(spark, golden.DRY_RUN))
    assert jobs and all(len(stages) == 1 for stages in jobs), jobs


def test_driver_rows_capped_and_guard_before_side_effects(spark, tmp_path, monkeypatch):
    """An overbroad rule over a batch larger than ``checked_cap``: at most
    checked_cap + matched_collect_cap + 1 rows reach the driver, and the
    guard raises before any post, stats update or seen-window change."""
    store = SignupRulesManager(str(tmp_path / "rules.json"))
    store.add_rule(
        Rule("broad", Criterion(CriterionKind.USERNAME_CONTAINS, "u"), [Action.NOTIFY_ZULIP])
    )
    sink = CollectingSink()
    eng = Engine(store, messages=sink, mod_api=sink, now_fn=lambda: golden.NOW)
    eng.checked_cap, eng.matched_collect_cap = 3, 5
    rows = [golden._u(f"user{i}") for i in range(20)]
    df = spark.createDataFrame(rows, golden.DDL)

    collected = []
    frame_cls = type(spark.range(0))
    to_pandas = frame_cls.toPandas

    def counting(self):
        out = to_pandas(self)
        collected.append(len(out))
        return out

    monkeypatch.setattr(frame_cls, "toPandas", counting)
    with pytest.raises(RuntimeError, match="overbroad"):
        eng.process_batch(df)
    assert sum(collected) <= 3 + 5 + 1, collected
    assert sink.messages == [] and sink.api_calls == []
    assert store.find_rule("broad").match_count == 0
    assert list(eng.recently_checked) == []

    # with room for every match the batch goes through, each row once
    collected.clear()
    eng.matched_collect_cap = 100
    eng.process_batch(df)
    assert sum(collected) <= 3 + 100 + 1, collected
    assert store.find_rule("broad").match_count == 20
    assert len(sink.channel("notify")) == 20
    assert list(eng.recently_checked) == ["user17", "user18", "user19"]
