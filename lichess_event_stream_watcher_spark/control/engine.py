"""The engine facade — the micro-batch twin of the reference's handler loop
(src/eventhandler.rs:50-504).

One ``process_batch`` call = one pass of the reference's per-event loop over
a whole micro-batch:

    enrich (P1/P2) -> rule scan (J1, compiled Catalyst predicates) ->
    side effects (K1-K3 via pluggable sinks) -> stats commit (A1-A3) ->
    seen-window state update (A4/W1)

Scale contract: the distributed part (enrich + rule scan) is a map-only
projection over event partitions — no cache, no state, linear in cluster
size. Each row carries the names of the rules it matched, and a batch
reaches the driver in one capped Arrow collect, a top-k that sorts
matching rows first and then the newest. It holds two things:

- **the batch's tail** — its last ``checked_cap`` (10K) rows in arrival
  order — for the `seen` window (W1 is a GLOBAL last-10,000-events window,
  so rows before the tail are evicted immediately by construction);
- **matched rows** (bounded by match rate, not event rate), for side
  effects and stats — the reference does the same work single-threaded.

The top-k has room for ``MATCH_ROOM`` (100K) matching rows beyond the tail,
so a batch of any size is enriched and scanned once unless more of its rows
match than that. Only such a batch runs a second pass, which replaces the
first result and has room for ``checked_cap + matched_collect_cap + 1``
rows. So at most that many rows are on the driver at once, and a batch
whose matches pass ``matched_collect_cap`` raises before any side effect.
Neither pass depends on the other's result, so a source need not re-read
the same rows in the same order.

Control events (rule CRUD, status, seen, dry-run) are driver API calls,
not stream rows (SURVEY.md §1.1): ``handle_command`` parses the DSL and
executes against the store, posting the reference's exact reply strings.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from collections import deque
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.enrich import device_info_column, enrich_geoip_banded
from ..plans.compile import matches_column, rule_signature
from ..rules.model import UTC, MIN_UTC, Action, Rule
from ..rules.store import SignupRulesManager
from ..schemas import USER_SCHEMA
from .command import (
    AddRuleCmd,
    Command,
    DisableRulesCmd,
    EnableRulesCmd,
    HypotheticalSignupCmd,
    ListRulesCmd,
    ParseError,
    RemoveRuleCmd,
    RenewRuleCmd,
    SeenCmd,
    ShowRuleCmd,
    StatusCmd,
    parse_command,
)
from .sinks import CollectingSink, MessageSink, ModApiSink

RECENTLY_CHECKED_CAP = 10_000  # src/eventhandler.rs:102
RECENTLY_NOTIFIED_CAP = 2_000  # src/eventhandler.rs:212
# Driver-OOM guard: matched rows are bounded by match rate, not event rate,
# but ONE overbroad rule (e.g. `username contains a`) could match a whole
# batch. Refuse loudly past this cap instead of silently collecting it.
MATCHED_COLLECT_CAP = 1_000_000
# Matches one top-k collect has room for beyond the seen-window tail. Each
# top-k task allocates a buffer of twice its limit up front: below G1's
# humongous size (half a 4 MB region under the 8g driver) it dies young,
# while room for MATCHED_COLLECT_CAP grew the JVM by GBs over 40 small
# batches. A batch with more matching rows takes a second pass.
MATCH_ROOM = 100_000


def _plain(v: Any) -> Any:
    """Arrow/pandas values -> plain JSON-serializable Python (numpy scalars
    and arrays arrive from toPandas; Rows arrive from .collect())."""
    if v is None:
        return None
    if hasattr(v, "asDict"):  # pyspark Row
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return [_plain(x) for x in v]
    item = getattr(v, "item", None)
    if item is not None and type(v).__module__ == "numpy":
        return v.item()
    return v


def _user_wire_json(row: dict[str, Any]) -> str:
    """Serialize a user row back to the camelCase wire shape
    (src/eventhandler.rs:415, P4)."""
    return json.dumps(
        {
            "username": _plain(row.get("username")),
            "email": _plain(row.get("email")),
            "ip": _plain(row.get("ip")),
            "userAgent": _plain(row.get("user_agent")),
            "fingerPrint": _plain(row.get("finger_print")),
            "suspIp": bool(_plain(row.get("susp_ip")) or False),
            "geoip": _plain(row.get("geoip")),
            "device": _plain(row.get("device")),
        },
        separators=(",", ":"),
    )


def _fmt_ts(ts: dt.datetime | None) -> str:
    """Rust DateTime<Utc> Display form, e.g. '2026-08-13 04:00:00 UTC'."""
    if ts is None:
        return "Never"
    return ts.strftime("%Y-%m-%d %H:%M:%S UTC")


def _fmt_actions(actions: list[Action]) -> str:
    """Rust Debug form of Vec<Action>: '[NotifyZulip, Close]'."""
    return "[" + ", ".join(a.value for a in actions) + "]"


class Engine:
    """Driver-side engine state + the batch pipeline.

    All mutation is driver-side and single-threaded per batch, preserving
    the reference's one-handler-thread ordering (src/eventhandler.rs:60-61).
    """

    def __init__(
        self,
        store: SignupRulesManager,
        messages: MessageSink | None = None,
        mod_api: ModApiSink | None = None,
        geoip_ranges: DataFrame | None = None,
        rng: random.Random | None = None,
        now_fn=None,
    ):
        self.store = store
        self.messages = messages or CollectingSink()
        self.mod_api = mod_api or CollectingSink()
        self.geoip_ranges = geoip_ranges
        self.rng = rng or random.Random()
        self.now_fn = now_fn or (lambda: dt.datetime.now(UTC))
        # bounded state (SURVEY.md §1.1.4); caps are instance attrs so tests
        # can exercise eviction without 10K-row fixtures
        self.checked_cap = RECENTLY_CHECKED_CAP
        self.notified_cap = RECENTLY_NOTIFIED_CAP
        self.matched_collect_cap = MATCHED_COLLECT_CAP
        self.recently_checked: deque[str] = deque()
        # raw row dicts; wire-JSON serialization is deferred to the (rare)
        # seen-command read path — serializing 10k tail rows per batch was
        # ~10% of driver-side batch cost for data almost never read
        self.recently_checked_info: dict[str, list[dict[str, Any]]] = {}
        self.recently_notified: deque[str] = deque()
        self.latest_event_utc: dt.datetime = MIN_UTC
        # Column-expression caches: Columns are immutable expression trees
        # not bound to a DataFrame, so the rule-scan and device-enrich
        # expressions compile once per RULESET (key below) / once per engine
        # and amortize across micro-batches — plan composition is the
        # dominant driver-side cost of a warm batch.
        self._matches_cache: tuple[tuple, Any] | None = None
        # per-rule scan elements by rule_signature, so a rule-set change
        # compiles only the rules that joined it
        self._rule_elements: dict[tuple, Any] = {}
        self._device_col = None
        self._error_acc = None
        self._ranges_local: DataFrame | None = None

    # -- the data path (src/eventhandler.rs:60-283) ------------------------

    def _rule_scan_column(self, active: list[Rule], spark=None):
        """The matched-rules array Column, reassembled only when the active
        ruleset changes (name/criterion/gate signature), from per-rule
        elements that are built once per rule. CODE predicates capture the
        engine's error accumulator (one per engine, created on first use)
        so executor-side rule errors surface on the notify stream
        (src/eventhandler.rs:258-272) instead of dying in a worker log."""
        if self._error_acc is None and spark is not None:
            from ..lua_compat import make_error_accumulator

            self._error_acc = make_error_accumulator(spark.sparkContext)
        key = tuple(rule_signature(r) for r in active)
        if self._matches_cache is None or self._matches_cache[0] != key:
            live = set(key)
            self._rule_elements = {
                s: e for s, e in self._rule_elements.items() if s in live
            }
            # the engine scans ENRICHED frames (enrich() always emits
            # geoip + device, NULL-structed when no range table is
            # wired), so CODE predicates get both wired through — without
            # this, user:country()/device() always returned sentinels in
            # the engine path while the reference's Lua bindings see the
            # enriched user (src/lua.rs:21-68)
            self._matches_cache = (
                key,
                matches_column(
                    active,
                    cols={"geoip": "geoip", "device": "device"},
                    error_acc=self._error_acc,
                    elements=self._rule_elements,
                ),
            )
        return self._matches_cache[1]

    def _report_predicate_errors(self) -> None:
        """Drain the executor->driver error channel; post each DISTINCT
        error once (accumulator updates are at-least-once under retries).
        Swap-then-iterate: updates from late/speculative task completions
        that land mid-report go into the fresh list and surface next batch
        instead of being wiped by the reset."""
        if self._error_acc is None:
            return
        drained = self._error_acc.value
        if not drained:
            return
        self._error_acc.value = []
        seen: set[str] = set()
        for msg in drained:
            if msg not in seen:
                seen.add(msg)
                self.messages.post("notify", f"Error evaluating rule {msg}")

    def _local_ranges(self) -> DataFrame:
        """The GeoIP range table as a pandas-built copy, made on first use:
        a caller's ``createDataFrame(list)`` frame is a Python RDD, which
        every batch's broadcast would re-run in Python workers; the copy
        is a LocalRelation the broadcast reads in the JVM."""
        if self._ranges_local is None:
            src = self.geoip_ranges
            self._ranges_local = src.sparkSession.createDataFrame(src.toPandas(), src.schema)
        return self._ranges_local

    def enrich(self, df: DataFrame) -> DataFrame:
        """P1 + P2; geoip stays NULL when no range table is wired."""
        if self._device_col is None:
            self._device_col = device_info_column(F.col("user_agent"))
        out = df.withColumn("device", self._device_col)
        if self.geoip_ranges is not None:
            out = enrich_geoip_banded(out, self._local_ranges())
        else:
            out = out.withColumn(
                "geoip",
                F.lit(None).cast(
                    "struct<country:string,city:string,subdivisions:array<string>>"
                ),
            )
        return out

    def prepare(self, spark: SparkSession) -> None:
        """Build what the first batch would otherwise build: the active
        rule set's scan column and the local range table. A stream calls
        this before it starts."""
        self._rule_scan_column(self.store.active_rules(self.now_fn()), spark)
        if self.geoip_ranges is not None:
            self._local_ranges()

    def process_batch(self, df: DataFrame, hypothetical: bool = False) -> None:
        """One micro-batch through the full pipeline."""
        from ..operators.util import spread

        now = self.now_fn()
        # _row_id stamps arrival order BEFORE the repartition so ordering
        # semantics survive the parallelism widening; a dry-run row is
        # not widened
        scanned = df.select(F.monotonically_increasing_id().alias("_row_id"), "*")
        if not hypothetical:
            scanned = spread(scanned)
        scanned = self.enrich(scanned)
        active = self.store.active_rules(now)
        order, limit = [F.desc("_row_id")], self.checked_cap
        if active:  # no active rules -> skip the scan
            rules = self._rule_scan_column(active, df.sparkSession)
            scanned = scanned.withColumn(
                "_rules", F.transform(rules, lambda m: m["rule_name"])
            )
            # matching rows sort before the rest, so one top-k holds the
            # newest checked_cap rows and every match it has room for
            order.insert(0, F.desc(F.size("_rules") > 0))
            limit += min(MATCH_ROOM, self.matched_collect_cap + 1)

        def collect(limit: int) -> pd.DataFrame:
            return scanned.orderBy(*order).limit(limit).toPandas().sort_values("_row_id")

        # ONE capped collect, each row with the names of the rules it
        # matched. Below `limit` rows it is the whole batch; at the limit
        # the batch has at least checked_cap rows, which is the only fact
        # the eviction branch needs — no separate count() job.
        got = collect(limit)
        if active and len(got) == limit:
            hits = got["_rules"].map(len)
            if (hits > 0).sum() > limit - self.checked_cap and hits.sum() <= self.matched_collect_cap:
                # more matching rows than the room, yet not enough to trip
                # the guard: a second pass with room for all it admits.
                # Rare (over MATCH_ROOM matching rows in one batch), and
                # it needs no cut-off from the first, so a source that
                # re-reads in another order cannot drop or repeat a match
                del got, hits
                got = collect(self.checked_cap + self.matched_collect_cap + 1)
        batch_count = len(got)
        tail = got.iloc[-self.checked_cap :]
        # (username, matched rule names) per matching event, arrival order
        events: list[tuple[str, list[str]]] = []
        if active:
            events = [(n, list(r)) for n, r in zip(got["username"], got["_rules"]) if len(r)]
        if sum(len(r) for _, r in events) > self.matched_collect_cap:
            raise RuntimeError(
                f"batch produced more than {self.matched_collect_cap} "
                "matched rows — an overbroad rule is matching nearly "
                "everything; refusing to collect it to the driver. "
                "Disable or narrow the rule, or raise "
                "engine.matched_collect_cap deliberately."
            )

        # executor-side CODE-predicate errors -> notify stream
        # (src/eventhandler.rs:258-272)
        self._report_predicate_errors()

        # -- seen-window state update (src/eventhandler.rs:91-113) ---------
        if batch_count >= self.checked_cap:
            # every pre-existing entry would be evicted by this batch
            self.recently_checked.clear()
            self.recently_checked_info.clear()
        for d in tail.drop(columns=["_rules"], errors="ignore").to_dict("records"):
            user_id = (d.get("username") or "").lower()
            self.recently_checked.append(user_id)
            self.recently_checked_info.setdefault(user_id, []).append(d)
            if len(self.recently_checked) > self.checked_cap:
                popped = self.recently_checked.popleft()
                infos = self.recently_checked_info.get(popped)
                if infos:
                    infos.pop(0)
                    if not infos:
                        del self.recently_checked_info[popped]

        if not hypothetical and batch_count:
            self.latest_event_utc = now

        # -- side effects + stats, in arrival order -------------------------
        stats_changed = False
        for username, names in events:
            # one jitter draw per event (src/eventhandler.rs:115)
            delay_ms_if_needed = self.rng.randrange(30, 100) * 1000
            fired: list[str] = []
            for name in names:
                rule = self.store.find_rule(name)
                if rule is None:  # removed mid-batch
                    continue
                if hypothetical:
                    # src/eventhandler.rs:128-140
                    self.messages.post(
                        "command",
                        f"Rule {rule.name} would take these actions: "
                        f"{_fmt_actions(rule.actions)}",
                    )
                    continue
                fired.append(rule.name)
                self._dispatch_actions(rule, username, delay_ms_if_needed)
            # stats commit after the event's rule loop (src/eventhandler.rs:276-283)
            for name in fired:
                stats_changed |= self.store.caught(name, username, self.now_fn())
        # one rules-file rewrite per micro-batch, not one per match
        if stats_changed:
            self.store.save()

    def _dispatch_actions(self, rule: Rule, username: str, delay_ms_if_needed: int) -> None:
        """src/eventhandler.rs:147-255."""
        user_id = username.lower()
        for action in rule.actions:
            endpoint = action.endpoint(username)
            if endpoint is not None:
                delay = not rule.no_delay and action.delayed
                extra = action.extra_delay_ms if not rule.no_delay else 0
                self.mod_api.post(endpoint, delay_ms_if_needed + extra if delay else 0)
            elif action is Action.NOTIFY_ZULIP and user_id not in self.recently_notified:
                # notification dedup W2/J3 (src/eventhandler.rs:196-215)
                self.messages.post(
                    "notify",
                    f"Rule {rule.name} match: "
                    f"[{username}](https://lichess.org/@/{user_id}?mod)",
                )
                self.recently_notified.append(user_id)
                if len(self.recently_notified) > self.notified_cap:
                    self.recently_notified.popleft()
        # detailed log unless the rule is notify-only (src/eventhandler.rs:220-255)
        if len(rule.actions) > 1 or (rule.actions[:1] != [Action.NOTIFY_ZULIP]):
            recent = (
                "None"
                if not rule.most_recent_caught
                else ", ".join(
                    f"[{u}](https://lichess.org/@/{u}?mod)" for u in rule.most_recent_caught
                )
            )
            self.messages.post(
                "log",
                f"Rule {rule.name} match: {rule.criterion.friendly()} on "
                f"[{username}](https://lichess.org/@/{username}?mod). "
                f"{rule.match_count} previous matches. Recent matches: {recent}",
            )

    def process_user(
        self, spark: SparkSession, user: dict[str, Any], hypothetical: bool = True
    ) -> None:
        """The dry-run keystone (§3.3): the SAME pipeline on a 1-row batch."""
        names = [f.name for f in USER_SCHEMA.fields if f.name not in ("geoip", "device")]
        schema = "username string, email string, ip string, user_agent string, finger_print string, susp_ip boolean"
        # pandas-built: a LocalRelation, not a Python RDD of one row
        df = spark.createDataFrame(pd.DataFrame([[user.get(n) for n in names]], columns=names), schema)
        self.process_batch(df, hypothetical=hypothetical)

    # -- the control path (src/eventhandler.rs:285-501) ---------------------

    def handle_command(self, text: str, spark: SparkSession | None = None) -> None:
        """Parse + execute one DSL command; replies go to the command channel
        (parse errors reply with the error message, src/zulip/rtm.rs:136-155)."""
        try:
            cmd = parse_command(text, now=self.now_fn())
        except ParseError as e:
            self.messages.post("command", e.message)
            return
        self.execute(cmd, spark)

    def execute(self, cmd: Command, spark: SparkSession | None = None) -> None:
        post = lambda t: self.messages.post("command", t)  # noqa: E731
        if isinstance(cmd, StatusCmd):  # src/eventhandler.rs:396-406
            post(
                "I am alive! Latest event: (UTC) "
                + self.latest_event_utc.strftime("%d/%m/%Y %H:%M:%S")
            )
        elif isinstance(cmd, SeenCmd):  # src/eventhandler.rs:407-427
            post(self._seen_report(cmd.username))
        elif isinstance(cmd, HypotheticalSignupCmd):
            if spark is None:
                raise ValueError("dry-run commands need a SparkSession")
            self.process_user(spark, cmd.user, hypothetical=True)
        elif isinstance(cmd, AddRuleCmd):  # src/eventhandler.rs:285-307
            try:
                self.store.add_rule(cmd.rule)
                post("Rule added!")
            except ValueError as e:
                post(f"Error on adding rule: {e}")
        elif isinstance(cmd, ShowRuleCmd):  # src/eventhandler.rs:308-335
            rule = self.store.find_rule(cmd.name)
            if rule is None:
                post("No such rule found.")
            else:
                post(
                    f"Created at: {_fmt_ts(rule.creation_date)}. "
                    f"Latest match: {_fmt_ts(rule.latest_match_date)}.\n"
                    f"Criterion: {rule.criterion.friendly()}.\n"
                    f"Actions: {_fmt_actions(rule.actions)}"
                    + (". No delay" if rule.no_delay else "")
                    + (f". Expires: {_fmt_ts(rule.expiry)}" if rule.expiry else "")
                )
        elif isinstance(cmd, RemoveRuleCmd):  # src/eventhandler.rs:336-358
            post("Rule removed!" if self.store.remove_rule(cmd.name) else "No such rule found.")
        elif isinstance(cmd, DisableRulesCmd):  # src/eventhandler.rs:359-372
            try:
                post(f"{self.store.disable_rules(cmd.pattern)} rules disabled.")
            except ValueError as e:
                post(f"Error on disabling rules: {e}")
        elif isinstance(cmd, EnableRulesCmd):
            try:
                post(f"{self.store.enable_rules(cmd.pattern)} rules enabled.")
            except ValueError as e:
                post(f"Error on enabling rules: {e}")
        elif isinstance(cmd, RenewRuleCmd):  # src/eventhandler.rs:489-501
            self.store.renew(cmd.name, cmd.extend, now=self.now_fn())
            post("Rule renewed!")
        elif isinstance(cmd, ListRulesCmd):  # src/eventhandler.rs:387-394
            post("Current rules: " + ", ".join(self.store.list_names()))
        else:  # pragma: no cover
            raise TypeError(f"unknown command: {cmd!r}")

    def _seen_report(self, username: str) -> str:
        user_id = username.lower()
        # membership via the info dict (O(1)), not the 10K deque (a
        # linear scan per seen command): the two are maintained in
        # lockstep by construction — a user has a dict key exactly while
        # at least one of their rows is in the deque
        if user_id in self.recently_checked_info:
            infos = self.recently_checked_info.get(user_id, [])
            info_string = "\n".join("`" + _user_wire_json(d) + "`" for d in infos)
            return (
                f"Yes, that user has been seen in the latest 10K sign-ins. "
                f"Seen {len(infos)} times:\n{info_string}"
            )
        return "No, that user has not been seen in the latest 10K sign-ins."

    def expiry_sweep(self) -> None:
        """The 15-min sweep job (src/signup/rules.rs:323-334,
        src/eventhandler.rs:428-487): notices go to the notify channel."""
        for kind, rule in self.store.expiry_sweep(self.now_fn()):
            if kind == "warn":
                self.messages.post(
                    "notify", f"Notice: rule `{rule.name}` is expiring in less than a day"
                )
            elif kind == "expired":
                self.messages.post("notify", f"Notice: rule `{rule.name}` has expired")
