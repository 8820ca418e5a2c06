"""End-to-end engine scenario tests — the behaviors pinned at
src/eventhandler.rs:60-501: matched (rule, user) pairs, action dispatch with
jitter policy, notification dedup (W2), last-3/count stats (A1-A3), seen
window (A4/W1), dry-run non-effects (§3.3), and the command control path."""

from __future__ import annotations

import datetime as dt
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

NOW = dt.datetime(2026, 8, 13, 12, 0, 0, tzinfo=UTC)

USER_SCHEMA_DDL = (
    "username string, email string, ip string, user_agent string, "
    "finger_print string, susp_ip boolean"
)


def u(name, email="a@b.c", ip="1.1.1.1", ua="x" * 40, fp=None, susp=False):
    return (name, email, ip, ua, fp, susp)


@pytest.fixture()
def engine(tmp_path):
    store = SignupRulesManager(str(tmp_path / "rules.json"))
    store.add_rule(
        Rule("spam", Criterion(CriterionKind.EMAIL_CONTAINS, "SPAM"), [Action.NOTIFY_ZULIP])
    )
    store.add_rule(
        Rule(
            "bots",
            Criterion(CriterionKind.USERNAME_REGEX, "(?i)^bot"),
            [Action.ENGINE_MARK, Action.CLOSE],
        )
    )
    store.add_rule(
        Rule(
            "susp",
            Criterion(CriterionKind.IP_MATCH, "9.9.9.9"),
            [Action.IP_BAN],
            susp_ip=True,
        )
    )
    store.add_rule(
        Rule(
            "off",
            Criterion(CriterionKind.EMAIL_CONTAINS, "a"),
            [Action.CLOSE],
            enabled=False,
        )
    )
    sink = CollectingSink()
    api = CollectingSink()
    return Engine(store, messages=sink, mod_api=api, rng=random.Random(7), now_fn=lambda: NOW)


def test_batch_matching_actions_stats(spark, engine):
    rows = [
        u("Alice", email="xSpAmx@mail.com"),          # spam -> notify
        u("BotMaster"),                                # bots -> engine+close (+log)
        u("alice2", email="spam@x.y"),                 # spam again, distinct user
        u("Quiet"),                                    # no match
        u("victim", ip="9.9.9.9", susp=False),         # susp gate blocks (susp_ip false)
        u("target", ip="9.9.9.9", susp=True),          # susp fires
    ]
    df = spark.createDataFrame(rows, USER_SCHEMA_DDL)
    engine.process_batch(df)

    # notify channel: spam matches for both users (distinct ids -> no dedup)
    notify = engine.messages.channel("notify")
    assert notify == [
        "Rule spam match: [Alice](https://lichess.org/@/alice?mod)",
        "Rule spam match: [alice2](https://lichess.org/@/alice2?mod)",
    ]

    # mod API: engine (delayed jitter), close (jitter+1500), ipban (delayed)
    eps = dict()
    for ep, delay in engine.mod_api.api_calls:
        eps[ep] = delay
    assert set(eps) == {
        "/mod/BotMaster/engine/true",
        "/mod/BotMaster/close",
        "/mod/target/ban/true",
    }
    # jitter: one draw per event, 30..99 s; Close +1500 on the same draw
    eng_delay = eps["/mod/BotMaster/engine/true"]
    assert 30_000 <= eng_delay <= 99_000
    assert eps["/mod/BotMaster/close"] == eng_delay + 1500
    assert 30_000 <= eps["/mod/target/ban/true"] <= 99_000

    # log channel: non-notify-only rules log with pre-update stats
    log = engine.messages.channel("log")
    assert any(
        m.startswith("Rule bots match: Username matches regex `(?i)^bot` on "
                     "[BotMaster](https://lichess.org/@/BotMaster?mod). "
                     "0 previous matches. Recent matches: None")
        for m in log
    )

    # stats (A1-A3)
    assert engine.store.find_rule("spam").match_count == 2
    assert engine.store.find_rule("spam").most_recent_caught == ["Alice", "alice2"]
    assert engine.store.find_rule("bots").match_count == 1
    assert engine.store.find_rule("bots").latest_match_date == NOW
    assert engine.store.find_rule("susp").match_count == 1
    assert engine.store.find_rule("off").match_count == 0

    # seen window (A4): all 6 rows entered, keyed by lowercase id
    assert list(engine.recently_checked) == [
        "alice", "botmaster", "alice2", "quiet", "victim", "target",
    ]
    assert "Yes, that user has been seen" in engine._seen_report("ALICE")
    assert "Seen 1 times" in engine._seen_report("alice")
    assert "No, that user has not been seen" in engine._seen_report("nobody")


def test_batch_saves_rules_file_once(spark, engine):
    """Stats from every match in a micro-batch reach the rules file in ONE
    rewrite; a batch with no match leaves the file alone."""
    saves = []
    save = engine.store.save
    engine.store.save = lambda: (saves.append(1), save())
    rows = [
        u("Alice", email="spam@x.y"),
        u("alice2", email="spam@x.y"),
        u("BotOne"),
        u("BotTwo", email="spam@x.y"),
    ]
    engine.process_batch(spark.createDataFrame(rows, USER_SCHEMA_DDL))
    assert len(saves) == 1
    on_disk = SignupRulesManager(engine.store.rules_path)
    assert on_disk.find_rule("spam").match_count == 3
    assert on_disk.find_rule("bots").match_count == 2

    engine.process_batch(spark.createDataFrame([u("Quiet")], USER_SCHEMA_DDL))
    assert len(saves) == 1


def test_rule_removed_between_dispatch_and_stats(spark, engine):
    """A moderator ``remove`` landing after a rule's actions were dispatched
    but before its stats commit skips the stats update instead of raising
    (which would end the streaming query)."""
    dispatch = engine._dispatch_actions

    def dispatch_then_remove(rule, username, delay_ms):
        dispatch(rule, username, delay_ms)
        if rule.name == "bots":
            engine.store.remove_rule("bots")

    engine._dispatch_actions = dispatch_then_remove
    rows = [u("BotMaster", email="spam@x.y")]
    engine.process_batch(spark.createDataFrame(rows, USER_SCHEMA_DDL))
    assert engine.store.find_rule("bots") is None
    assert "/mod/BotMaster/close" in {ep for ep, _ in engine.mod_api.api_calls}
    assert engine.store.find_rule("spam").match_count == 1
    assert SignupRulesManager(engine.store.rules_path).find_rule("spam").match_count == 1
    assert engine.store.caught("bots", "BotMaster") is False


def test_rule_change_compiles_only_changed_rules(spark, engine, monkeypatch):
    """After a warm batch, adding a rule compiles that rule alone; the
    others reuse their scan elements, and a removed rule's element is
    dropped."""
    from lichess_event_stream_watcher_spark.plans import compile as compile_mod

    engine.process_batch(spark.createDataFrame([u("BotOne")], USER_SCHEMA_DDL))
    compiled = []
    predicate = compile_mod.rule_predicate

    def counting(rule, *args, **kwargs):
        compiled.append(rule.name)
        return predicate(rule, *args, **kwargs)

    monkeypatch.setattr(compile_mod, "rule_predicate", counting)
    engine.store.add_rule(
        Rule("fresh", Criterion(CriterionKind.USERNAME_CONTAINS, "new"), [Action.NOTIFY_ZULIP])
    )
    engine.process_batch(spark.createDataFrame([u("BotNew")], USER_SCHEMA_DDL))
    assert compiled == ["fresh"]
    assert engine.store.find_rule("fresh").match_count == 1
    assert engine.store.find_rule("bots").match_count == 2

    engine.store.remove_rule("fresh")
    engine.process_batch(spark.createDataFrame([u("BotNewer")], USER_SCHEMA_DDL))
    assert compiled == ["fresh"]
    assert {sig[0] for sig in engine._rule_elements} == {"spam", "bots", "susp"}
    assert engine.store.find_rule("bots").match_count == 3


def test_notify_dedup_same_user(spark, engine):
    rows = [u("Dup", email="spam@x.y"), u("dup", email="spam2@x.y")]
    engine.process_batch(spark.createDataFrame(rows, USER_SCHEMA_DDL))
    # second signup of the same (lowercased) id is suppressed (W2/J3)
    assert len(engine.messages.channel("notify")) == 1
    # but stats dedup is per-rule last-3 (by original username), so Dup/dup differ
    assert engine.store.find_rule("spam").match_count == 2


def test_notified_window_eviction(spark, engine):
    engine.notified_cap = 1
    rows = [u("A", email="spam@x"), u("B", email="spam@x"), u("A", email="spam@x")]
    engine.process_batch(spark.createDataFrame(rows, USER_SCHEMA_DDL))
    # A notified, B notified (A evicted, cap 1), A notified AGAIN after eviction
    assert len(engine.messages.channel("notify")) == 3


def test_seen_window_eviction(spark, engine):
    engine.checked_cap = 2
    rows = [u("A"), u("B"), u("C")]
    engine.process_batch(spark.createDataFrame(rows, USER_SCHEMA_DDL))
    # batch >= cap -> prior state cleared, tail-2 kept
    assert list(engine.recently_checked) == ["b", "c"]
    assert "a" not in engine.recently_checked_info


def test_dry_run_no_effects(spark, engine):
    engine.process_user(
        spark,
        {"username": "BotTest", "email": "spam@x.y", "ip": "1.2.3.4"},
        hypothetical=True,
    )
    # would-fire report for both rules, command channel (src/eventhandler.rs:128-140)
    cmd = engine.messages.channel("command")
    assert "Rule spam would take these actions: [NotifyZulip]" in cmd
    assert "Rule bots would take these actions: [EngineMark, Close]" in cmd
    # no real actions, no notify, no stats
    assert engine.mod_api.api_calls == []
    assert engine.messages.channel("notify") == []
    assert engine.store.find_rule("spam").match_count == 0
    # but the row DID enter the seen window (src/eventhandler.rs:91-113 runs
    # unconditionally — §3.3)
    assert "bottest" in engine.recently_checked


def test_command_control_path(spark, engine):
    e = engine
    e.handle_command("signup rules add fresh if email contains zzz then notify+close", spark)
    assert e.messages.channel("command")[-1] == "Rule added!"
    e.handle_command("signup rules add fresh if email contains zzz then close", spark)
    assert e.messages.channel("command")[-1].startswith("Error on adding rule:")
    e.handle_command("signup rules list", spark)
    assert e.messages.channel("command")[-1] == (
        "Current rules: spam, bots, susp, (off), fresh"
    )
    e.handle_command("signup rules show fresh", spark)
    show = e.messages.channel("command")[-1]
    assert "Criterion: Email address contains 'zzz'." in show
    assert "Actions: [NotifyZulip, Close]" in show
    assert "Expires:" in show  # default 182d TTL from the DSL
    e.handle_command("signup rules show ghost", spark)
    assert e.messages.channel("command")[-1] == "No such rule found."
    e.handle_command("signup rules remove fresh", spark)
    assert e.messages.channel("command")[-1] == "Rule removed!"
    e.handle_command("signup rules disable-re ^s", spark)
    assert e.messages.channel("command")[-1] == "2 rules disabled."
    e.handle_command("signup rules enable-re ^s", spark)
    assert e.messages.channel("command")[-1] == "2 rules enabled."
    e.handle_command("signup rules renew spam 2w", spark)
    assert e.messages.channel("command")[-1] == "Rule renewed!"
    assert e.store.find_rule("spam").expiry == NOW + dt.timedelta(weeks=2)
    e.handle_command("status", spark)
    assert e.messages.channel("command")[-1].startswith("I am alive! Latest event: (UTC)")
    e.handle_command("gibberish", spark)
    assert e.messages.channel("command")[-1] == "Could not parse user command"
    # namechk runs the dry-run pipeline
    e.handle_command("namechk BotCheck", spark)
    assert "Rule bots would take these actions: [EngineMark, Close]" in e.messages.channel("command")
    # seen through the command path
    e.handle_command("signup seen BotCheck", spark)
    assert e.messages.channel("command")[-1].startswith("Yes, that user has been seen")


def test_expiry_sweep_messages(engine):
    engine.store.add_rule(
        Rule(
            "dying",
            Criterion(CriterionKind.EMAIL_CONTAINS, "x"),
            [Action.NOTIFY_ZULIP],
            expiry=NOW + dt.timedelta(hours=2),
        )
    )
    engine.expiry_sweep()
    assert engine.messages.channel("notify")[-1] == (
        "Notice: rule `dying` is expiring in less than a day"
    )


def test_overbroad_rule_hits_collect_guard(spark, engine):
    """One match-everything rule must not OOM the driver: past
    matched_collect_cap the batch refuses loudly instead of collecting."""
    engine.store.add_rule(
        Rule("broad", Criterion(CriterionKind.USERNAME_CONTAINS, "u"), [Action.NOTIFY_ZULIP])
    )
    rows = [u(f"user{i}") for i in range(20)]
    df = spark.createDataFrame(rows, USER_SCHEMA_DDL)
    engine.matched_collect_cap = 10
    with pytest.raises(RuntimeError, match="overbroad"):
        engine.process_batch(df)
    # narrowing the cap back above the match count lets the batch through
    engine.matched_collect_cap = 1_000
    engine.process_batch(df)
    assert engine.store.find_rule("broad").match_count == 20


def test_code_predicate_error_reported_not_fatal(spark, tmp_path):
    """A CODE rule that raises on some rows evaluates False there, the
    batch completes, other rules still match, and the error surfaces ONCE
    on the notify stream (src/eventhandler.rs:258-272 parity via the
    executor->driver accumulator)."""
    store = SignupRulesManager(str(tmp_path / "rules.json"))
    store.add_rule(
        Rule("ok", Criterion(CriterionKind.EMAIL_CONTAINS, "SPAM"), [Action.NOTIFY_ZULIP])
    )
    store.add_rule(
        Rule(
            "boom",
            Criterion(CriterionKind.CODE, 'user.nosuch_method() == "x"'),
            [Action.NOTIFY_ZULIP],
        )
    )
    sink = CollectingSink()
    eng = Engine(store, messages=sink, rng=random.Random(7), now_fn=lambda: NOW)
    df = spark.createDataFrame(
        [u("Alice", email="spam@mail.com"), u("Bob")], USER_SCHEMA_DDL
    )
    eng.process_batch(df)
    notify = sink.channel("notify")
    assert any("Rule ok match" in m for m in notify)
    errs = [m for m in notify if m.startswith("Error evaluating rule boom:")]
    assert len(errs) == 1, notify
    # next batch: channel drained, errors re-reported (still once)
    eng.process_batch(df)
    errs2 = [m for m in sink.channel("notify") if m.startswith("Error evaluating rule boom:")]
    assert len(errs2) == 2


def test_code_rule_sees_enriched_geoip_and_device(spark, tmp_path):
    """Round-7 review fix: the engine scans ENRICHED frames, so a CODE
    predicate must see user:country()/device() like the reference's Lua
    bindings (src/lua.rs:21-68) — previously the engine never wired the
    geoip/device columns through and every geo accessor returned its
    sentinel."""
    from lichess_event_stream_watcher_spark import fixtures

    store = SignupRulesManager(str(tmp_path / "rules.json"))
    store.add_rule(
        Rule(
            "geo",
            Criterion(CriterionKind.CODE, 'user:country() ~= "<NO COUNTRY>"'),
            [Action.NOTIFY_ZULIP],
        )
    )
    store.add_rule(
        Rule(
            "dev",
            Criterion(CriterionKind.CODE, 'user:device() ~= "<NO DEVICE>"'),
            [Action.NOTIFY_ZULIP],
        )
    )
    sink, api = CollectingSink(), CollectingSink()
    eng = Engine(
        store,
        messages=sink,
        mod_api=api,
        geoip_ranges=fixtures.geoip_ranges_df(spark),
        rng=random.Random(7),
        now_fn=lambda: NOW,
    )
    # an IP inside the fixture's range table + a desktop UA (device
    # fast-path yields 'Computer'), so both CODE rules must fire
    covered_ip = "10.0.0.5"
    batch = spark.createDataFrame(
        [u("GeoUser", ip=covered_ip, ua="Mozilla/5.0")], USER_SCHEMA_DDL
    )
    eng.process_batch(batch)
    counts = {r.name: r.match_count for r in store.rules}
    assert counts["geo"] == 1, counts
    assert counts["dev"] == 1, counts


def test_rule_with_no_actions_coexists_in_action_scan(spark):
    """Round-7 review fix: a rule with an EMPTY actions list needs a
    typed empty array — bare F.array() is ARRAY<NULL> and failed struct
    unification against other rules' ARRAY<STRING> at analysis; its
    matches dispatch nothing while other rules' actions still explode."""
    from lichess_event_stream_watcher_spark.plans.compile import compile_matches

    no_act = Rule("bare", Criterion(CriterionKind.EMAIL_CONTAINS, "A@"), [])
    normal = Rule(
        "spam", Criterion(CriterionKind.EMAIL_CONTAINS, "A@"), [Action.NOTIFY_ZULIP]
    )
    df = spark.createDataFrame([u("X")], USER_SCHEMA_DDL)
    out = compile_matches(df, [no_act, normal], with_actions=True).select(
        "rule_name", "action"
    )
    rows = {(r.rule_name, r.action) for r in out.collect()}
    assert rows == {("spam", "NotifyZulip")}  # bare matched, dispatched nothing
    # and without actions the bare rule's match is still visible
    out2 = compile_matches(df, [no_act, normal]).select("rule_name")
    assert {r.rule_name for r in out2.collect()} == {"bare", "spam"}
