"""Expected outputs, computed apart from the program.

A pure-Python statement of what the rule engine must do with a stream of
signups: the criterion semantics, the susp_ip gate, pruning of disabled and
expired rules, a hand-written twin of the benchmark's one CODE rule, the
mod-API endpoints and jitter policy, the 2,000-user notify de-duplication,
the detailed log and the per-rule stats. It imports nothing from the
program, so a fault in the program cannot hide in its own yardstick.

Within one micro-batch the engine's arrival order follows Spark's file
packing, not landing order, so the comparisons made from these
expectations are order-insensitive: multisets of endpoints, of notify
texts with the username lower-cased, and of (rule, user) log pairs.
"""

from __future__ import annotations

import bisect
import re
from collections import Counter, deque

from inputs import CODE_RULE

NOTIFY_CAP = 2000
_ENDPOINTS = {
    "Shadowban": "/mod/{u}/troll/true",
    "EngineMark": "/mod/{u}/engine/true",
    "BoostMark": "/mod/{u}/booster/true",
    "IpBan": "/mod/{u}/ban/true",
    "Close": "/mod/{u}/close",
    "Alt": "/mod/{u}/alt/true",
    "EnableChatPanic": "/mod/chat-panic",
}
_DELAYED = {"EngineMark", "BoostMark", "IpBan", "Close"}


class GeoIP:
    """Range lookup over the benchmark's GeoIP table (inclusive bounds)."""

    def __init__(self, ranges):
        self.ranges = sorted(ranges)
        self.los = [r[0] for r in self.ranges]

    def country(self, ip: str) -> str | None:
        parts = ip.split(".")
        if len(parts) != 4 or not all(p.isdigit() and (p == "0" or p[0] != "0") for p in parts):
            return None
        nums = [int(p) for p in parts]
        if any(n > 255 for n in nums):
            return None
        n = nums[0] * 16777216 + nums[1] * 65536 + nums[2] * 256 + nums[3]
        i = bisect.bisect_right(self.los, n) - 1
        if i >= 0 and self.ranges[i][0] <= n <= self.ranges[i][1]:
            return self.ranges[i][2]
        return None


def code_rule_twin(ev: dict, geo: GeoIP) -> bool:
    """Hand-written twin of ``inputs.CODE_RULE``: country NL, a fingerprint
    present, and an e-mail that contains ``@tempmail.`` or ``@temp-mail.``."""
    return (
        geo.country(ev["ip"]) == "NL"
        and ev["finger_print"] is not None
        and re.search(r"@temp-?mail\.", ev["email"]) is not None
    )


def criterion_matches(kind: str, value: str, ev: dict, geo: GeoIP) -> bool:
    """One criterion against one signup. Contains is case-insensitive on
    both sides, regexes are unanchored searches (the DSL adds ``(?i)``),
    and a missing fingerprint or user agent never matches."""
    if kind == "IpMatch":
        return ev["ip"] == value
    if kind == "PrintMatch":
        return ev["finger_print"] is not None and ev["finger_print"] == value
    if kind == "EmailContains":
        return value.upper() in ev["email"].upper()
    if kind == "EmailRegex":
        return re.search(value, ev["email"]) is not None
    if kind == "UsernameContains":
        return value.upper() in ev["username"].upper()
    if kind == "UsernameRegex":
        return re.search(value, ev["username"]) is not None
    if kind == "UseragentLengthLte":
        return ev["user_agent"] is not None and len(ev["user_agent"]) <= int(value)
    if kind == "Lua":
        if value != CODE_RULE:
            raise ValueError(f"no twin for CODE rule {value!r}")
        return code_rule_twin(ev, geo)
    raise ValueError(f"unknown criterion kind {kind!r}")


def is_active(rule: dict, now_ms: int) -> bool:
    return rule["enabled"] and (rule["expiry"] is None or rule["expiry"] > now_ms)


def matched_rules(rules: list[dict], ev: dict, geo: GeoIP, now_ms: int) -> list[dict]:
    """Active rules that match, in rule-file order, with the susp_ip gate."""
    out = []
    for r in rules:
        if not is_active(r, now_ms):
            continue
        if r["susp_ip"] and not ev["susp_ip"]:
            continue
        if criterion_matches(r["criterion"]["kind"], r["criterion"]["value"], ev, geo):
            out.append(r)
    return out


def dryrun_replies(rules: list[dict], user: dict, geo: GeoIP, now_ms: int) -> list[str]:
    return [
        f"Rule {r['name']} would take these actions: [{', '.join(r['actions'])}]"
        for r in matched_rules(rules, user, geo, now_ms)
    ]


def delay_ok(rule: dict, action: str, delay_ms: int) -> bool:
    """Jitter policy: delayed actions wait 30-99 s (Close 1.5 s more) unless
    the rule is ``nodelay``; every other action goes at once."""
    if rule["no_delay"] or action not in _DELAYED:
        return delay_ms == 0
    extra = 1500 if action == "Close" else 0
    return delay_ms - extra in range(30_000, 100_000, 1000)


class Expected:
    """Streamed outputs for signups fed in landing order."""

    def __init__(self, rules: list[dict], geo: GeoIP, now_ms: int):
        self.rules = rules
        self.geo = geo
        self.now_ms = now_ms
        self.endpoints: Counter = Counter()
        self.notify: Counter = Counter()
        self.logs: Counter = Counter()
        self.match_count: Counter = Counter()
        self.recent: dict[str, deque] = {r["name"]: deque() for r in rules}
        self.matched_users: dict[str, set] = {r["name"]: set() for r in rules}
        self.caught_users: set[str] = set()
        self._notified: deque[str] = deque()

    def feed(self, ev: dict) -> list[dict]:
        hits = matched_rules(self.rules, ev, self.geo, self.now_ms)
        user, uid = ev["username"], ev["username"].lower()
        for r in hits:
            self.caught_users.add(user)
            for a in r["actions"]:
                if a in _ENDPOINTS:
                    self.endpoints[_ENDPOINTS[a].format(u=user)] += 1
                elif a == "NotifyZulip" and uid not in self._notified:
                    self.notify[f"Rule {r['name']} match: [{uid}](https://lichess.org/@/{uid}?mod)"] += 1
                    self._notified.append(uid)
                    if len(self._notified) > NOTIFY_CAP:
                        self._notified.popleft()
            if r["actions"] != ["NotifyZulip"]:
                self.logs[(r["name"], uid)] += 1
            # stats: a user already among the rule's last three catches
            # leaves the rule untouched
            self.matched_users[r["name"]].add(user)
            rec = self.recent[r["name"]]
            if user not in rec:
                self.match_count[r["name"]] += 1
                rec.append(user)
                if len(rec) > 3:
                    rec.popleft()
        return hits


_LOG_RE = re.compile(r"^Rule (\S+) match: .* on \[([^\]]+)\]\(")
_NOTIFY_RE = re.compile(r"^Rule (\S+) match: \[([^\]]+)\]\(")


class Checks:
    """Named checks with attempted/failed counts. A run fails if any named
    check ran zero times, so a check cannot go blind unnoticed."""

    def __init__(self, names: list[str]):
        self.attempted = {n: 0 for n in names}
        self.failed = {n: 0 for n in names}
        self.messages: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted[name] += 1
        if not ok:
            self.failed[name] += 1
            if len(self.messages) < 20:
                self.messages.append(f"{name}: {detail}")
        return ok

    def ok(self) -> bool:
        return not any(self.failed.values()) and all(self.attempted.values())

    def summary(self) -> str:
        blind = [n for n, a in self.attempted.items() if a == 0]
        lines = [
            f"checks: {sum(self.attempted.values())} attempted, {sum(self.failed.values())} failed"
            + (f"; never ran: {', '.join(blind)}" if blind else "")
        ]
        lines += [f"  {n}: {self.attempted[n]} attempted, {self.failed[n]} failed" for n in self.attempted]
        lines += [f"  FAIL {m}" for m in self.messages]
        return "\n".join(lines)


def compare_stream(checks: Checks, exp: Expected, api_calls, messages, rules_on_disk) -> None:
    """Streamed outputs against the expectation.

    ``api_calls``: (endpoint, delay_ms); ``messages``: (channel, text) on
    the notify and log channels; ``rules_on_disk``: the rules file after
    the run."""
    got_endpoints = Counter(e for e, _ in api_calls)
    checks.check(
        "mod_api_endpoints",
        got_endpoints == exp.endpoints,
        _diff(got_endpoints, exp.endpoints),
    )
    by_name = {r["name"]: r for r in exp.rules}
    bad_delay = []
    for e, d in api_calls:
        acts = [(r, a) for r in exp.rules for a in r["actions"] if _is_endpoint_of(a, e)]
        if not any(delay_ok(r, a, d) for r, a in acts):
            bad_delay.append((e, d))
    checks.check("mod_api_delays", not bad_delay, str(bad_delay[:3]))

    notify = Counter()
    logs = Counter()
    for ch, text in messages:
        if ch == "notify":
            m = _NOTIFY_RE.match(text)
            notify[f"Rule {m.group(1)} match: [{m.group(2).lower()}]" + text[m.end() - 1:] if m else text] += 1
        elif ch == "log":
            m = _LOG_RE.match(text)
            logs[(m.group(1), m.group(2).lower()) if m else text] += 1
    checks.check("notify_messages", notify == exp.notify, _diff(notify, exp.notify))
    checks.check("log_messages", logs == exp.logs, _diff(logs, exp.logs))

    disk = {r["name"]: r for r in rules_on_disk}
    for name, r in by_name.items():
        got = disk.get(name)
        if got is None:
            checks.check("rule_match_count", False, f"{name} missing from the rules file")
            continue
        checks.check(
            "rule_match_count",
            got["match_count"] == exp.match_count[name],
            f"{name}: {got['match_count']} on disk, {exp.match_count[name]} expected",
        )
        recent = got["most_recent_caught"]
        checks.check(
            "rule_recent_caught",
            len(recent) <= 3 and set(recent) <= exp.matched_users[name],
            f"{name}: {recent}",
        )


def _is_endpoint_of(action: str, endpoint: str) -> bool:
    template = _ENDPOINTS.get(action)
    if template is None:
        return False
    if "{u}" not in template:
        return endpoint == template
    head, tail = template.split("{u}")
    return len(endpoint) > len(head) + len(tail) and endpoint.startswith(head) and endpoint.endswith(tail)


def _diff(got: Counter, want: Counter) -> str:
    extra = list((got - want).items())[:3]
    missing = list((want - got).items())[:3]
    return f"unexpected {extra}, missing {missing} (got {sum(got.values())}, want {sum(want.values())})"


def normalized_text(text: str) -> str:
    """Lower-case, trim, collapse runs of whitespace: the exact-dedup key."""
    return re.sub(r"\s+", " ", text.lower().strip())
