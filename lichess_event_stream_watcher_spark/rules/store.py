"""Rule store: load/save/CRUD/uniqueness/expiry lifecycle.

Parity target: SignupRulesManager (src/signup/rules.rs:21-161) and the
expiry sweep (src/signup/rules.rs:323-334, src/eventhandler.rs:432-487).

The store is a tiny driver-side dimension table (dozens of rules): plain
Python list + JSON file, broadcast into each micro-batch as compiled Column
predicates (see plans.compile). All mutations are serialized through one
lock, preserving the reference's single-handler-thread semantics
(src/eventhandler.rs:60-61).

Scale note: the rules table never shuffles — it compiles into the event
scan's projection, so rule evaluation is embarrassingly parallel over event
partitions regardless of cluster size.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import tempfile
import threading
from collections.abc import Iterator

from .model import UTC, Rule

DEFAULT_TTL = dt.timedelta(days=182)  # src/zulip/command.rs:149,152
EXPIRY_WARN_BEFORE = dt.timedelta(days=1)  # src/eventhandler.rs:433
EXPIRY_DELETE_AFTER = dt.timedelta(days=3)  # src/eventhandler.rs:459
SWEEP_PERIOD_S = 15 * 60  # src/signup/rules.rs:327


class SignupRulesManager:
    def __init__(self, rules_path: str | None = None):
        self.rules_path = rules_path
        self._lock = threading.RLock()
        self.rules: list[Rule] = []
        # name -> Rule index for the per-match hot path: the engine calls
        # find_rule twice per matched event (dispatch + stats commit), so
        # a 60k-match micro-batch paid 120k linear scans of the rule list.
        # Every mutating METHOD invalidates explicitly (the reliable
        # path); the (list identity, length-at-build) heuristic remains
        # only as a backstop for direct .rules mutations from tests/bench
        # — which append to fresh or same-identity lists and so change
        # the length. It cannot catch a same-length delete+append done
        # directly on .rules with no method call between; mutate through
        # the methods.
        self._by_name: dict[str, Rule] = {}
        self._by_name_src: list[Rule] | None = None
        self._by_name_len: int = -1
        if rules_path and os.path.exists(rules_path):
            self.load()

    def _invalidate_index(self) -> None:
        self._by_name_src = None

    def _index(self) -> dict[str, Rule]:
        if self._by_name_src is not self.rules or self._by_name_len != len(
            self.rules
        ):
            # first-wins on duplicate names, matching the linear scan this
            # index replaced (duplicates only arise via direct .rules
            # appends that bypass add_rule's uniqueness check)
            idx: dict[str, Rule] = {}
            for r in self.rules:
                idx.setdefault(r.name, r)
            self._by_name = idx
            self._by_name_src = self.rules
            self._by_name_len = len(self.rules)
        return self._by_name

    # -- persistence (src/signup/rules.rs:27-47) ---------------------------
    def load(self) -> None:
        with self._lock, open(self.rules_path) as f:
            self.rules = [Rule.from_json_obj(o) for o in json.load(f)]
            self._invalidate_index()
            self._warn_not_precedence_shifts()

    def _warn_not_precedence_shifts(self) -> None:
        """The round-7 Lua-precedence fix made ``not`` bind TIGHTER than
        comparison in CODE predicates (the Lua reading). A native-Python
        predicate stored BEFORE that fix as ``not x == y`` silently changed
        meaning from ``not (x == y)`` to ``(not x) == y`` — surface it at
        load so operators notice, instead of leaving the shift documented
        but invisible (round-8 ADVICE fix). Warn, don't fail: Lua-exported
        rules always meant the tight binding and are the primary contract."""
        import warnings

        from ..lua_translate import not_precedence_shift
        from .model import CriterionKind

        for r in self.rules:
            if r.criterion.kind is CriterionKind.CODE and not_precedence_shift(
                r.criterion.value
            ):
                warnings.warn(
                    f"rule {r.name!r}: CODE predicate contains `not` directly "
                    "before a comparison — since the Lua-precedence fix this "
                    "evaluates as `(not x) == y`, not Python's `not (x == y)`; "
                    "re-save with explicit parentheses to silence",
                    stacklevel=3,
                )

    def save(self) -> None:
        """Full rewrite on every mutation, as the reference does — but we do
        it atomically (tmp+rename) and, in streaming, once per micro-batch
        rather than once per match (SURVEY.md §4's noted improvement)."""
        if not self.rules_path:
            return
        with self._lock:
            payload = json.dumps([r.to_json_obj() for r in self.rules], indent=1)
            d = os.path.dirname(os.path.abspath(self.rules_path))
            fd, tmp = tempfile.mkstemp(dir=d, prefix=".rules.")
            try:
                with os.fdopen(fd, "w") as f:
                    f.write(payload)
                os.replace(tmp, self.rules_path)
            finally:
                if os.path.exists(tmp):
                    os.unlink(tmp)

    # -- CRUD (src/signup/rules.rs:49-126) ---------------------------------
    def find_rule(self, name: str) -> Rule | None:
        with self._lock:
            return self._index().get(name)

    def add_rule(self, rule: Rule) -> None:
        with self._lock:
            if self.find_rule(rule.name) is not None:  # uniqueness (:49-55)
                raise ValueError(f"a rule with name {rule.name!r} already exists")
            self.rules.append(rule)
            self._invalidate_index()
            self.save()

    def remove_rule(self, name: str) -> bool:
        """retain-by-name; True iff something was removed
        (src/signup/rules.rs:60-66)."""
        with self._lock:
            before = len(self.rules)
            self.rules = [r for r in self.rules if r.name != name]
            self._invalidate_index()
            self.save()
            return len(self.rules) != before

    def set_enabled(self, name: str, enabled: bool) -> Rule:
        with self._lock:
            rule = self._require(name)
            rule.enabled = enabled
            self.save()
            return rule

    def disable_rules(self, pattern: str) -> int:
        """Regex over rule NAMES; returns match count
        (src/signup/rules.rs:68-94). Invalid regex -> ValueError."""
        return self._enable_disable(pattern, False)

    def enable_rules(self, pattern: str) -> int:
        return self._enable_disable(pattern, True)

    def _enable_disable(self, pattern: str, enabled: bool) -> int:
        try:
            rx = re.compile(pattern)
        except re.error:
            raise ValueError("Invalid regex.") from None
        with self._lock:
            count = 0
            for rule in self.rules:
                if rx.search(rule.name):
                    count += 1
                    rule.enabled = enabled
            self.save()
            return count

    def renew(self, name: str, extend: dt.timedelta, now: dt.datetime | None = None) -> None:
        """``renew Nd|Nw`` — new expiry = now + extend
        (src/zulip/command.rs:245-261, src/signup/rules.rs:100-113).
        Reference parity: silently a no-op for unknown names, and the
        exp_notification latch is NOT reset (the reference leaves it, so a
        once-expired rule never re-warns after renewal)."""
        with self._lock:
            for rule in self.rules:
                if rule.name == name:
                    rule.expiry = (now or dt.datetime.now(UTC)) + extend
                    break
            self.save()

    def list_names(self) -> list[str]:
        """Disabled rules render parenthesized (src/signup/rules.rs:115-126)."""
        with self._lock:
            return [r.name if r.enabled else f"({r.name})" for r in self.rules]

    def active_rules(self, now: dt.datetime | None = None) -> list[Rule]:
        """Plan-time pruning: disabled/expired rules never reach the compiled
        scan (cheaper than the reference's per-event gate check,
        src/eventhandler.rs:120-126)."""
        with self._lock:
            return [r for r in self.rules if r.is_active(now)]

    def caught(self, name: str, username: str, event_time: dt.datetime | None = None) -> bool:
        """Per-match stats update, in memory only: the engine saves once
        per micro-batch. A rule removed since the batch dispatched it is
        skipped. Returns whether any stats changed."""
        with self._lock:
            rule = self.find_rule(name)
            return rule is not None and rule.caught(username, event_time)

    # -- expiry lifecycle (src/eventhandler.rs:432-487) --------------------
    def expiry_sweep(self, now: dt.datetime | None = None) -> Iterator[tuple[str, Rule]]:
        """One sweep pass. Yields ("warn"|"expired"|"deleted", rule) events:
        warn <1 d before expiry (latch 0->1), announce at expiry (latch ->2),
        auto-delete 3 d after. Pure batch logic on rule timestamps.

        Branch order mirrors src/eventhandler.rs:428-487 exactly: the warn
        branch wins whenever the latch is 0 (even if already past expiry),
        and deletion is an independent check — a long-expired latch-0 rule
        yields BOTH "warn" and "deleted" in one pass, as the reference does.
        """
        now = now or dt.datetime.now(UTC)
        out: list[tuple[str, Rule]] = []
        with self._lock:
            to_remove: list[Rule] = []
            for rule in self.rules:
                if rule.expiry is None:
                    continue
                if rule.expiry < now + EXPIRY_WARN_BEFORE and rule.exp_notification == 0:
                    rule.exp_notification = 1
                    out.append(("warn", rule))
                elif rule.expiry < now and rule.exp_notification <= 1:
                    rule.exp_notification = 2
                    out.append(("expired", rule))
                if now > rule.expiry + EXPIRY_DELETE_AFTER:
                    to_remove.append(rule)
            for rule in to_remove:
                self.rules.remove(rule)
                self._invalidate_index()
                out.append(("deleted", rule))
            if out:
                self.save()
        yield from out

    def _require(self, name: str) -> Rule:
        rule = self.find_rule(name)
        if rule is None:
            raise KeyError(f"no rule named {name!r}")
        return rule


def expiry_sweep_classify(rules_df, now: dt.datetime):
    """Distributed twin of ``expiry_sweep``: classify a rules DataFrame
    (name, expiry, exp_notification) into (kind, name) rows at a pinned
    ``now`` — pure batch logic on timestamps (SURVEY.md §2.10 TTL;
    src/eventhandler.rs:428-487 branch order).

    Same branch semantics as the driver sweep: the warn branch wins
    whenever the latch is 0 (even past expiry), the expired branch takes
    latch <= 1 rules the warn branch skipped, and deletion is an
    INDEPENDENT check — a long-expired latch-0 rule yields both "warn"
    and "deleted". Three filters over one tiny table, unioned map-side;
    no shuffle, no state.
    """
    from pyspark.sql import functions as F

    # F.lit(now), not a strftime string: the string form truncated to
    # whole seconds, so a sweep at 12:00:00.700 against an expiry of
    # 12:00:00.300 diverged from the driver sweep's exact comparison
    # (round-7 review fix); the datetime literal keeps microseconds
    ts = F.lit(now)
    exp = F.col("expiry")
    latch = F.col("exp_notification")
    # seconds-based intervals stay faithful to the timedelta constants even
    # if they are ever tuned to sub-day values (.days would truncate)
    warn_iv = F.expr(f"INTERVAL {int(EXPIRY_WARN_BEFORE.total_seconds())} SECONDS")
    del_iv = F.expr(f"INTERVAL {int(EXPIRY_DELETE_AFTER.total_seconds())} SECONDS")
    warn_cond = (exp < ts + warn_iv) & (latch == 0)
    expired_cond = (~warn_cond) & (exp < ts) & (latch <= 1)
    deleted_cond = ts > exp + del_iv
    name = F.col("name")
    return (
        rules_df.filter(warn_cond).select(F.lit("warn").alias("kind"), name)
        .unionAll(rules_df.filter(expired_cond).select(F.lit("expired").alias("kind"), name))
        .unionAll(rules_df.filter(deleted_cond).select(F.lit("deleted").alias("kind"), name))
    )
