"""Golden transcript of the engine: one fixed-rng scenario whose every
observable output is pinned exactly — the ordered notify/log/command
messages, the mod-API (endpoint, delay) posts, each rule's stats and the
seen window. Any rebuild of ``Engine.process_batch`` must reproduce it
byte for byte.

The scenario covers every criterion kind, a CODE rule reading the
enriched ``country()``/``device()`` with a GeoIP range table wired, the
``susp_ip`` gate, a case-flipped duplicate user, a dry-run, and a batch
larger than ``checked_cap`` whose matches fall before its tail."""

from __future__ import annotations

import datetime as dt
import random

from lichess_event_stream_watcher_spark import fixtures
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
DDL = (
    "username string, email string, ip string, user_agent string, "
    "finger_print string, susp_ip boolean"
)
DESKTOP = "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36"
K = CriterionKind
A = Action


def _rules() -> list[Rule]:
    return [
        Rule("ipban", Criterion(K.IP_MATCH, "9.9.9.9"), [A.IP_BAN], susp_ip=True),
        Rule("print", Criterion(K.PRINT_MATCH, "fp-bad"), [A.SHADOWBAN, A.NOTIFY_ZULIP]),
        Rule("spam", Criterion(K.EMAIL_CONTAINS, "spam"), [A.NOTIFY_ZULIP]),
        Rule("mailre", Criterion(K.EMAIL_REGEX, r"^bot\d+@"), [A.ALT]),
        Rule(
            "troll",
            Criterion(K.USERNAME_CONTAINS, "troll"),
            [A.BOOST_MARK, A.NOTIFY_ZULIP],
            no_delay=True,
        ),
        Rule("bots", Criterion(K.USERNAME_REGEX, "(?i)^bot"), [A.ENGINE_MARK, A.CLOSE]),
        Rule("shortua", Criterion(K.USERAGENT_LENGTH_LTE, "10"), [A.ENABLE_CHAT_PANIC]),
        Rule(
            "geo",
            Criterion(K.CODE, 'user:country() == "C00" and user:device() == "Computer"'),
            [A.NOTIFY_ZULIP, A.CLOSE],
        ),
        Rule("off", Criterion(K.EMAIL_CONTAINS, "@"), [A.CLOSE], enabled=False),
    ]


def _u(name, email="a@b.c", ip="1.1.1.1", ua=DESKTOP, fp=None, susp=False):
    return (name, email, ip, ua, fp, susp)


BATCH_1 = [
    _u("Alice", email="xSPAMx@mail.com"),  # spam: the match ignores case
    _u("alice2", email="spam@x.y"),  # spam
    _u("BotMaster", email="bot12@x.y"),  # bots + mailre
    _u("victim", ip="9.9.9.9"),  # ipban gated out: susp_ip false
    _u("target", ip="9.9.9.9", susp=True),  # ipban
    _u("Troll1", fp="fp-bad"),  # troll + print
    _u("troll1", email="spam@q.r"),  # case-flipped duplicate: troll + spam
    _u("GeoUser", ip="10.0.0.5"),  # geo (C00 + Computer)
    _u("GapUser", ip="12.130.0.1"),  # no covering range: geo sentinel
    _u("tiny", ua="curl/8"),  # shortua
    _u("Quiet"),
]
DRY_RUN = {
    "username": "BotDry",
    "email": "spam@dry.run",
    "ip": "10.0.0.9",
    "user_agent": DESKTOP,
    "finger_print": "fp-bad",
    "susp_ip": False,
}
# seven rows under a checked_cap of 4: the first three fall before the tail
BATCH_2 = [
    _u("BotEarly", email="spam@e.f"),  # bots + spam, before the tail
    _u("trolley"),  # troll, before the tail
    _u("Plain"),
    _u("Troll1", ip="10.0.0.7"),  # troll (already caught) + geo, in the tail
    _u("Late"),
    _u("tiny2", ua="x"),  # shortua
    _u("GeoLast", ip="10.0.0.8", ua="Mozilla/5.0"),  # geo
]


def run_scenario(spark, tmp_path) -> Engine:
    store = SignupRulesManager(str(tmp_path / "rules.json"))
    for r in _rules():
        store.add_rule(r)
    sink, api = CollectingSink(), CollectingSink()
    eng = Engine(
        store,
        messages=sink,
        mod_api=api,
        geoip_ranges=fixtures.geoip_ranges_df(spark),
        rng=random.Random(20261020),
        now_fn=lambda: NOW,
    )
    eng.process_batch(spark.createDataFrame(BATCH_1, DDL))
    eng.process_user(spark, DRY_RUN, hypothetical=True)
    eng.checked_cap = 4
    eng.process_batch(spark.createDataFrame(BATCH_2, DDL))
    return eng


def test_golden_transcript(spark, tmp_path):
    eng = run_scenario(spark, tmp_path)
    assert eng.messages.messages == GOLDEN_MESSAGES
    assert eng.mod_api.api_calls == GOLDEN_API
    stats = {r.name: (r.match_count, r.most_recent_caught) for r in eng.store.rules}
    assert stats == GOLDEN_STATS
    assert list(eng.recently_checked) == GOLDEN_RECENTLY_CHECKED
    assert [eng._seen_report(n) for n in ("GeoLast", "TROLL1", "Plain")] == GOLDEN_SEEN


GOLDEN_MESSAGES = [
    ('notify', 'Rule spam match: [Alice](https://lichess.org/@/alice?mod)'),
    ('notify', 'Rule spam match: [alice2](https://lichess.org/@/alice2?mod)'),
    (
        'log',
        'Rule mailre match: Email address matches regex `^bot\\d+@` on '
        '[BotMaster](https://lichess.org/@/BotMaster?mod). 0 previous matches. Recent '
        'matches: None',
    ),
    (
        'log',
        'Rule bots match: Username matches regex `(?i)^bot` on '
        '[BotMaster](https://lichess.org/@/BotMaster?mod). 0 previous matches. Recent '
        'matches: None',
    ),
    (
        'log',
        'Rule ipban match: IP equals 9.9.9.9 on '
        '[target](https://lichess.org/@/target?mod). 0 previous matches. Recent '
        'matches: None',
    ),
    ('notify', 'Rule print match: [Troll1](https://lichess.org/@/troll1?mod)'),
    (
        'log',
        'Rule print match: Fingerprint hash equals fp-bad on '
        '[Troll1](https://lichess.org/@/Troll1?mod). 0 previous matches. Recent '
        'matches: None',
    ),
    (
        'log',
        "Rule troll match: Username contains 'troll' on "
        '[Troll1](https://lichess.org/@/Troll1?mod). 0 previous matches. Recent '
        'matches: None',
    ),
    (
        'log',
        "Rule troll match: Username contains 'troll' on "
        '[troll1](https://lichess.org/@/troll1?mod). 1 previous matches. Recent '
        'matches: [Troll1](https://lichess.org/@/Troll1?mod)',
    ),
    ('notify', 'Rule geo match: [GeoUser](https://lichess.org/@/geouser?mod)'),
    (
        'log',
        'Rule geo match: Code predicate: `user:country() == "C00" and user:device() == '
        '"Computer"` on [GeoUser](https://lichess.org/@/GeoUser?mod). 0 previous '
        'matches. Recent matches: None',
    ),
    (
        'log',
        'Rule shortua match: User agent length is less than or equal to 10 on '
        '[tiny](https://lichess.org/@/tiny?mod). 0 previous matches. Recent matches: '
        'None',
    ),
    ('command', 'Rule print would take these actions: [Shadowban, NotifyZulip]'),
    ('command', 'Rule spam would take these actions: [NotifyZulip]'),
    ('command', 'Rule bots would take these actions: [EngineMark, Close]'),
    ('command', 'Rule geo would take these actions: [NotifyZulip, Close]'),
    ('notify', 'Rule spam match: [BotEarly](https://lichess.org/@/botearly?mod)'),
    (
        'log',
        'Rule bots match: Username matches regex `(?i)^bot` on '
        '[BotEarly](https://lichess.org/@/BotEarly?mod). 1 previous matches. Recent '
        'matches: [BotMaster](https://lichess.org/@/BotMaster?mod)',
    ),
    ('notify', 'Rule troll match: [trolley](https://lichess.org/@/trolley?mod)'),
    (
        'log',
        "Rule troll match: Username contains 'troll' on "
        '[trolley](https://lichess.org/@/trolley?mod). 2 previous matches. Recent '
        'matches: [Troll1](https://lichess.org/@/Troll1?mod), '
        '[troll1](https://lichess.org/@/troll1?mod)',
    ),
    (
        'log',
        "Rule troll match: Username contains 'troll' on "
        '[Troll1](https://lichess.org/@/Troll1?mod). 3 previous matches. Recent '
        'matches: [Troll1](https://lichess.org/@/Troll1?mod), '
        '[troll1](https://lichess.org/@/troll1?mod), '
        '[trolley](https://lichess.org/@/trolley?mod)',
    ),
    (
        'log',
        'Rule geo match: Code predicate: `user:country() == "C00" and user:device() == '
        '"Computer"` on [Troll1](https://lichess.org/@/Troll1?mod). 1 previous matches.'
        ' Recent matches: [GeoUser](https://lichess.org/@/GeoUser?mod)',
    ),
    (
        'log',
        'Rule shortua match: User agent length is less than or equal to 10 on '
        '[tiny2](https://lichess.org/@/tiny2?mod). 1 previous matches. Recent matches: '
        '[tiny](https://lichess.org/@/tiny?mod)',
    ),
    ('notify', 'Rule geo match: [GeoLast](https://lichess.org/@/geolast?mod)'),
    (
        'log',
        'Rule geo match: Code predicate: `user:country() == "C00" and user:device() == '
        '"Computer"` on [GeoLast](https://lichess.org/@/GeoLast?mod). 2 previous '
        'matches. Recent matches: [GeoUser](https://lichess.org/@/GeoUser?mod), '
        '[Troll1](https://lichess.org/@/Troll1?mod)',
    ),
]
GOLDEN_API = [
    ('/mod/BotMaster/alt/true', 0),
    ('/mod/BotMaster/engine/true', 57000),
    ('/mod/BotMaster/close', 58500),
    ('/mod/target/ban/true', 91000),
    ('/mod/Troll1/troll/true', 0),
    ('/mod/Troll1/booster/true', 0),
    ('/mod/troll1/booster/true', 0),
    ('/mod/GeoUser/close', 41500),
    ('/mod/chat-panic', 0),
    ('/mod/BotEarly/engine/true', 71000),
    ('/mod/BotEarly/close', 72500),
    ('/mod/trolley/booster/true', 0),
    ('/mod/Troll1/booster/true', 0),
    ('/mod/Troll1/close', 57500),
    ('/mod/chat-panic', 0),
    ('/mod/GeoLast/close', 62500),
]
GOLDEN_STATS = {
    'bots': (2, ['BotMaster', 'BotEarly']),
    'geo': (3, ['GeoUser', 'Troll1', 'GeoLast']),
    'ipban': (1, ['target']),
    'mailre': (1, ['BotMaster']),
    'off': (0, []),
    'print': (1, ['Troll1']),
    'shortua': (2, ['tiny', 'tiny2']),
    'spam': (4, ['alice2', 'troll1', 'BotEarly']),
    'troll': (3, ['Troll1', 'troll1', 'trolley']),
}
GOLDEN_RECENTLY_CHECKED = ['troll1', 'late', 'tiny2', 'geolast']
_SEEN_YES = "Yes, that user has been seen in the latest 10K sign-ins. Seen 1 times:\n"
GOLDEN_SEEN = [
    _SEEN_YES
    + '`{"username":"GeoLast","email":"a@b.c","ip":"10.0.0.8","userAgent":"Mozilla/5.0",'
    '"fingerPrint":null,"suspIp":false,"geoip":{"country":"C00","city":"city_0_0",'
    '"subdivisions":["C00-s1"]},"device":{"device":"Computer","os":"Other","client":"Other"}}`',
    _SEEN_YES
    + '`{"username":"Troll1","email":"a@b.c","ip":"10.0.0.7","userAgent":"'
    + DESKTOP
    + '","fingerPrint":null,"suspIp":false,"geoip":{"country":"C00","city":"city_0_0",'
    '"subdivisions":["C00-s1"]},"device":{"device":"Computer","os":"Windows 10",'
    '"client":"Other"}}`',
    "No, that user has not been seen in the latest 10K sign-ins.",
]
