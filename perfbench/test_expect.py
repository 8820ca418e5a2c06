"""Tests of the expected-output checker on crafted signups.

Run with ``python3 -m pytest perfbench/test_expect.py`` or
``python3 perfbench/test_expect.py``; neither needs Spark.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from expect import (  # noqa: E402
    NOTIFY_CAP,
    Checks,
    Expected,
    GeoIP,
    criterion_matches,
    delay_ok,
    dryrun_replies,
    matched_rules,
)
from inputs import CODE_RULE, rule, geoip_ranges  # noqa: E402

GEO = GeoIP(geoip_ranges())
NOW = 1_800_000_000_000


def ev(username="alice", email="a@mail.test", ip="10.0.0.1", ua=None, fp=None, susp=False):
    return {
        "username": username,
        "email": email,
        "ip": ip,
        "user_agent": ua,
        "finger_print": fp,
        "susp_ip": susp,
    }


def test_contains_is_case_insensitive_on_both_sides():
    assert criterion_matches("EmailContains", "tempmail", ev(email="x@TempMail.test"), GEO)
    assert criterion_matches("EmailContains", "TEMPMAIL", ev(email="x@tempmail.test"), GEO)
    assert not criterion_matches("EmailContains", "tempmail", ev(email="x@temp-mail.test"), GEO)
    assert criterion_matches("UsernameContains", "xxx", ev(username="abXxXc"), GEO)


def test_regex_is_an_unanchored_case_insensitive_search():
    assert criterion_matches("EmailRegex", "(?i)^[a-z]+[0-9]{4}@spam\\.", ev(email="ABCD1234@Spam.test"), GEO)
    assert not criterion_matches("EmailRegex", "^[a-z]+[0-9]{4}@spam\\.", ev(email="ABCD1234@Spam.test"), GEO)
    assert criterion_matches("UsernameRegex", "(?i)bot_", ev(username="xxBOT_1"), GEO)
    assert not criterion_matches("UsernameRegex", "(?i)^bot_[0-9]+$", ev(username="Bot_1_2"), GEO)


def test_user_agent_length_and_null_fields_are_false():
    assert criterion_matches("UseragentLengthLte", "8", ev(ua="curl/7"), GEO)
    assert criterion_matches("UseragentLengthLte", "8", ev(ua="12345678"), GEO)
    assert not criterion_matches("UseragentLengthLte", "8", ev(ua="123456789"), GEO)
    assert not criterion_matches("UseragentLengthLte", "8", ev(ua=None), GEO)
    assert not criterion_matches("PrintMatch", "fp-1", ev(fp=None), GEO)
    assert criterion_matches("PrintMatch", "fp-1", ev(fp="fp-1"), GEO)
    assert criterion_matches("IpMatch", "10.66.6.6", ev(ip="10.66.6.6"), GEO)


def test_code_rule_twin():
    nl_ip = next(f"10.{b}.0.9" for b in range(256) if b % 9 != 4 and ["NL", "DE", "FR", "US", "BR", "IN", "GB", "PL", "ES", "SE"][(b * 7) % 10] == "NL")
    hit = ev(email="a@temp-mail.test", ip=nl_ip, fp="fp-9")
    assert criterion_matches("Lua", CODE_RULE, hit, GEO)
    assert not criterion_matches("Lua", CODE_RULE, dict(hit, finger_print=None), GEO)
    assert not criterion_matches("Lua", CODE_RULE, dict(hit, ip="10.1.0.9"), GEO)  # DE
    assert not criterion_matches("Lua", CODE_RULE, dict(hit, ip="192.168.0.1"), GEO)  # no record
    assert not criterion_matches("Lua", CODE_RULE, dict(hit, email="a@tempxmail.test"), GEO)
    assert GEO.country("10.4.0.1") is None  # a left-out block
    assert GEO.country("010.1.0.1") is None


def test_susp_gate_and_pruning():
    rules = [
        rule("gated", "EmailContains", "vpn", ["Close"], susp_ip=True),
        rule("off", "UsernameContains", "a", ["Close"], enabled=False),
        rule("old", "UsernameContains", "a", ["Close"], expiry=NOW - 1),
        rule("later", "UsernameContains", "a", ["Alt"], expiry=NOW + 1),
    ]
    names = lambda e: [r["name"] for r in matched_rules(rules, e, GEO, NOW)]  # noqa: E731
    assert names(ev(email="x@vpn.test")) == ["later"]
    assert names(ev(email="x@vpn.test", susp=True)) == ["gated", "later"]


def test_dryrun_replies_follow_rule_order():
    rules = [
        rule("r1", "UsernameContains", "bot", ["NotifyZulip", "Close"]),
        rule("r2", "IpMatch", "10.66.6.6", ["IpBan"]),
    ]
    assert dryrun_replies(rules, ev(username="Bot1", ip="10.66.6.6"), GEO, NOW) == [
        "Rule r1 would take these actions: [NotifyZulip, Close]",
        "Rule r2 would take these actions: [IpBan]",
    ]
    assert dryrun_replies(rules, ev(), GEO, NOW) == []


def test_streamed_outputs_notify_dedup_and_stats():
    rules = [
        rule("n1", "UsernameContains", "bad", ["NotifyZulip"]),
        rule("n2", "UsernameContains", "bad", ["NotifyZulip", "EngineMark"]),
    ]
    exp = Expected(rules, GEO, NOW)
    exp.feed(ev(username="BadOne"))
    exp.feed(ev(username="badone"))  # same lower-cased id: no second notify
    assert sum(exp.notify.values()) == 1
    assert exp.notify["Rule n1 match: [badone](https://lichess.org/@/badone?mod)"] == 1
    assert exp.endpoints == {"/mod/BadOne/engine/true": 1, "/mod/badone/engine/true": 1}
    assert exp.logs == {("n2", "badone"): 2}  # notify-only rules log nothing
    assert exp.match_count == {"n1": 2, "n2": 2}  # distinct strings both count

    # an exact repeat among a rule's last three catches is not counted
    exp.feed(ev(username="badone"))
    assert exp.match_count["n1"] == 2
    # ... but after three other catches it is
    for k in range(3):
        exp.feed(ev(username=f"bad{k}"))
    exp.feed(ev(username="badone"))
    assert exp.match_count["n1"] == 6


def test_notify_dedup_forgets_after_cap():
    rules = [rule("n", "UsernameContains", "u", ["NotifyZulip"])]
    exp = Expected(rules, GEO, NOW)
    exp.feed(ev(username="u_first"))
    for k in range(NOTIFY_CAP - 1):
        exp.feed(ev(username=f"u{k}"))
    exp.feed(ev(username="u_first"))  # still among the last 2,000
    assert sum(exp.notify.values()) == NOTIFY_CAP
    exp.feed(ev(username="u_last"))  # pushes u_first out
    exp.feed(ev(username="U_FIRST"))
    assert sum(exp.notify.values()) == NOTIFY_CAP + 2


def test_delay_policy():
    close = rule("c", "IpMatch", "x", ["Close"])
    assert delay_ok(close, "Close", 31_500) and not delay_ok(close, "Close", 30_000)
    assert delay_ok(close, "EngineMark", 99_000) and not delay_ok(close, "EngineMark", 100_000)
    assert delay_ok(close, "Alt", 0) and not delay_ok(close, "Alt", 30_000)
    assert delay_ok(dict(close, no_delay=True), "Close", 0)


def test_checks_fail_when_a_check_never_ran():
    c = Checks(["a", "b"])
    c.check("a", True)
    assert not c.ok() and "never ran: b" in c.summary()
    c.check("b", True)
    assert c.ok()
    c.check("b", False, "boom")
    assert not c.ok() and "FAIL b: boom" in c.summary()


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
    print(f"{len(tests)} tests passed")
