"""Streaming ingestion tests: NDJSON parse with DROPMALFORMED, the
file-source + foreachBatch engine loop, checkpointed restart continuity."""

from __future__ import annotations

import datetime as dt
import json
import random

import pytest

from lichess_event_stream_watcher_spark.control.engine import Engine
from lichess_event_stream_watcher_spark.control.sinks import CollectingSink
from lichess_event_stream_watcher_spark.rules.model import (
    UTC,
    Action,
    Criterion,
    CriterionKind,
    Rule,
)
from lichess_event_stream_watcher_spark.rules.store import SignupRulesManager
from lichess_event_stream_watcher_spark.streaming import (
    read_ndjson_batch,
    read_ndjson_stream,
    run_engine_stream,
)

NOW = dt.datetime(2026, 8, 13, 12, 0, 0, tzinfo=UTC)


def wire(username, email="a@b.c", ip="1.1.1.1", **kw):
    return json.dumps({"t": "signup", "username": username, "email": email, "ip": ip, **kw})


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    return d


def test_parse_dropmalformed(spark, landing):
    (landing / "a.ndjson").write_text(
        "\n".join(
            [
                wire("Alice", suspIp=True, userAgent="Mozilla/5.0"),
                "",  # blank line (src/eventstream.rs:51-52)
                "{not json",  # malformed (:53-58)
                json.dumps({"t": "other", "username": "X", "email": "e", "ip": "i"}),
                json.dumps({"t": "signup", "username": "NoEmail", "ip": "1.1.1.1"}),
                wire("Bob"),
            ]
        )
    )
    rows = read_ndjson_batch(spark, str(landing)).orderBy("username").collect()
    assert [r["username"] for r in rows] == ["Alice", "Bob"]
    alice = rows[0]
    assert alice["susp_ip"] is True and alice["user_agent"] == "Mozilla/5.0"
    assert rows[1]["susp_ip"] is False and rows[1]["finger_print"] is None
    assert alice["ingest_time"] is not None


def mk_engine(tmp_path) -> Engine:
    store = SignupRulesManager(str(tmp_path / "rules.json"))
    store.add_rule(
        Rule("spam", Criterion(CriterionKind.EMAIL_CONTAINS, "spam"), [Action.NOTIFY_ZULIP])
    )
    return Engine(
        store,
        messages=CollectingSink(),
        mod_api=CollectingSink(),
        rng=random.Random(1),
        now_fn=lambda: NOW,
    )


def test_stream_engine_end_to_end_with_restart(spark, tmp_path, landing):
    engine = mk_engine(tmp_path)
    ckpt = str(tmp_path / "ckpt")

    (landing / "b1.ndjson").write_text("\n".join([wire("U1", email="spam@x"), wire("U2")]))
    q = run_engine_stream(
        engine, read_ndjson_stream(spark, str(landing)), ckpt, available_now=True
    )
    q.awaitTermination(120)
    assert engine.messages.channel("notify") == [
        "Rule spam match: [U1](https://lichess.org/@/u1?mod)"
    ]
    assert "u2" in engine.recently_checked
    assert engine.store.find_rule("spam").match_count == 1

    # restart from the checkpoint: only NEW files are processed (file-source
    # exactly-once), driver state carries over in the same engine
    (landing / "b2.ndjson").write_text(wire("U3", email="spam@y"))
    q2 = run_engine_stream(
        engine, read_ndjson_stream(spark, str(landing)), ckpt, available_now=True
    )
    q2.awaitTermination(120)
    assert engine.store.find_rule("spam").match_count == 2
    assert engine.store.find_rule("spam").most_recent_caught == ["U1", "U3"]
    # U1/U2 not re-processed: still exactly one notification for u1
    assert len(engine.messages.channel("notify")) == 2


@pytest.mark.parametrize("room", [None, 3])
def test_stream_batch_larger_than_checked_cap(spark, tmp_path, landing, monkeypatch, room):
    """A file-source micro-batch of more rows than ``checked_cap``: every
    match posts once in arrival order and the seen window keeps the newest
    rows. With room for 3 matches the batch's 5 outrun the top-k and it
    takes the second pass."""
    from lichess_event_stream_watcher_spark.control import engine as engine_mod

    if room is not None:
        monkeypatch.setattr(engine_mod, "MATCH_ROOM", room)
    engine = mk_engine(tmp_path)
    engine.checked_cap = 3
    users = [f"U{i}" for i in range(12)]
    spam = {"U1", "U3", "U5", "U7", "U9"}
    (landing / "b1.ndjson").write_text(
        "\n".join(wire(u, email="spam@x" if u in spam else "a@b.c") for u in users)
    )
    collects = []
    frame_cls = type(spark.range(0))
    to_pandas = frame_cls.toPandas
    monkeypatch.setattr(frame_cls, "toPandas", lambda self: collects.append(1) or to_pandas(self))
    q = run_engine_stream(
        engine, read_ndjson_stream(spark, str(landing)), str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    assert len(collects) == (1 if room is None else 2)
    assert engine.messages.channel("notify") == [
        f"Rule spam match: [{u}](https://lichess.org/@/{u.lower()}?mod)"
        for u in users
        if u in spam
    ]
    assert engine.store.find_rule("spam").match_count == 5
    assert list(engine.recently_checked) == ["u9", "u10", "u11"]


def test_first_batch_compiles_nothing(spark, tmp_path, landing, monkeypatch):
    """``run_engine_stream`` builds the active rule set's scan column
    before the query starts, so micro-batch 0 compiles no rule."""
    from lichess_event_stream_watcher_spark.control import engine as engine_mod

    engine = mk_engine(tmp_path)
    calls = []
    in_batch = []
    compile_ = engine_mod.matches_column
    monkeypatch.setattr(
        engine_mod,
        "matches_column",
        lambda *a, **kw: (calls.append(bool(in_batch)), compile_(*a, **kw))[1],
    )
    process = engine.process_batch

    def tracked(df, hypothetical=False):
        in_batch.append(1)
        try:
            return process(df, hypothetical)
        finally:
            in_batch.pop()

    engine.process_batch = tracked
    (landing / "b1.ndjson").write_text("\n".join([wire("U1", email="spam@x"), wire("U2")]))
    q = run_engine_stream(
        engine, read_ndjson_stream(spark, str(landing)), str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    assert engine.store.find_rule("spam").match_count == 1
    assert calls == [False]


def test_ndjson_tail_data_source(spark, tmp_path):
    """The Spark 4 Python streaming source: byte-offset tailing emits only
    complete lines, holds back a partial tail, replays committed ranges
    identically (exactly-once), and never re-emits consumed lines."""
    import time

    from lichess_event_stream_watcher_spark.streaming.source import (
        ndjson_tail_source,
        parse_signup_lines,
    )

    p = str(tmp_path / "stream.ndjson")
    with open(p, "w") as f:
        f.write(
            '{"t":"signup","username":"Alice","email":"a@x.com","ip":"1.1.1.1"}\n'
            "not json\n"
            '{"t":"signup","username":"Bob","email":"b@x.com","ip":"2.2.2.2","suspIp":true}\n'
            '{"t":"signup","username":"Carol","email":"c@x.com","ip":"3.3.3.3"}'  # partial
        )

    # offset mechanics, driver-side (no query needed)
    reader = ndjson_tail_source()({"path": p}).simpleStreamReader("value string")
    rows, off = reader.read(reader.initialOffset())
    lines = [r[0] for r in rows]
    assert len(lines) == 3 and "Carol" not in "".join(lines)  # partial held back
    replay = [r[0] for r in reader.readBetweenOffsets({"pos": 0}, off)]
    assert replay == lines  # committed range replays verbatim
    rows2, off2 = reader.read(off)
    assert list(rows2) == [] and off2 == off  # nothing new -> no progress

    with open(p, "a") as f:
        f.write('\n{"t":"signup","username":"Dave","email":"d@x.com","ip":"4.4.4.4"}\n')
    rows3, _ = reader.read(off)
    got = [r[0] for r in rows3]
    assert "Carol" in got[0] and "Dave" in got[1]  # completed tail + new line

    # end-to-end through a streaming query + the DROPMALFORMED parser
    spark.dataSource.register(ndjson_tail_source())
    stream = spark.readStream.format("ndjson_tail").option("path", p).load()
    q = (
        parse_signup_lines(stream)
        .writeStream.format("memory")
        .queryName("tail_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    names = sorted(
        r["username"] for r in spark.sql("SELECT username FROM tail_sink").collect()
    )
    assert names == ["Alice", "Bob", "Carol", "Dave"]


def test_gopher_gate_stream_equals_batch(spark, sf_dir, tmp_path):
    """The Gopher rule battery is a stateless map-side projection, so it
    drops into the streaming ingestion front door unchanged: the same
    expression under readStream (append mode, no watermark, no state)
    produces exactly the batch verdicts once the stream drains."""
    from pyspark.sql import functions as F

    from lichess_event_stream_watcher_spark import testdata
    from lichess_event_stream_watcher_spark.operators import text as X

    docs = testdata.load(spark, sf_dir, "documents")
    land = str(tmp_path / "docs_landing")
    docs.repartition(3).write.parquet(land)

    batch = {tuple(r) for r in X.gopher_quality_rules(spark.read.parquet(land)).collect()}

    stream = (
        spark.readStream.schema(spark.read.parquet(land).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    q = (
        X.gopher_quality_rules(stream)
        .writeStream.format("memory")
        .queryName("gopher_gate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM gopher_gate").collect()}
    assert got == batch and len(got) > 0
