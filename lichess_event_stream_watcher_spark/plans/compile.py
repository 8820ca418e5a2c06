"""Rules -> Catalyst Column predicates: the heart of the engine.

The reference scans every event against all rules in a per-event interpreter
loop (src/eventhandler.rs:119-126) — semantically a broadcast nested-loop
theta-join (SURVEY.md J1). Here each Criterion compiles ONCE per plan into a
``pyspark.sql.Column`` boolean expression (src/signup/rules.rs:246-270 is the
interpreted equivalent), so the whole rule scan is a single projection over
the event DataFrame:

    events.select(*cols, explode(filter(array(<when(pred_i, struct_i)>...))))

- No join, no shuffle: rules are compile-time literals folded into the scan.
- Whole-stage codegen evaluates all non-CODE predicates JVM-side.
- Plan-time pruning: disabled/expired rules are dropped BEFORE compiling
  (cheaper than the reference's per-event gate at src/eventhandler.rs:120-126).
- The susp_ip gate compiles to ``pred AND susp_ip`` (src/eventhandler.rs:120-126).
- Regexes compile once per task via ``rlike`` literal patterns (the
  reference pre-compiles per rule — src/signup/rules.rs:239,241).

At 100 TB this scales linearly with event partitions: the projection carries
zero state and the matched-pairs output is produced map-side only.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..rules.model import Criterion, CriterionKind, Rule

# Engine-internal column names for the User row (schemas.USER_SCHEMA).
USER_COLS = {
    "username": "username",
    "email": "email",
    "ip": "ip",
    "user_agent": "user_agent",
    "finger_print": "finger_print",
    "susp_ip": "susp_ip",
}


def criterion_to_column(
    criterion: Criterion,
    cols: dict[str, str] | None = None,
    rule_name: str | None = None,
    error_acc=None,
) -> Column:
    """One Criterion -> boolean Column (src/signup/rules.rs:246-270).

    Null semantics follow the reference exactly: PrintMatch on NULL
    fingerprint is false (:250-253), UseragentLengthLte on NULL UA is false
    (:264-267) — both fall out of SQL 3VL + the coalesce below.
    """
    c = {**USER_COLS, **(cols or {})}
    k, v = criterion.kind, criterion.value
    if k is CriterionKind.IP_MATCH:  # :249
        pred = F.col(c["ip"]) == F.lit(v)
    elif k is CriterionKind.PRINT_MATCH:  # :250-253
        pred = F.col(c["finger_print"]) == F.lit(v)
    elif k is CriterionKind.EMAIL_CONTAINS:  # :254-256, both sides uppercased
        pred = F.upper(F.col(c["email"])).contains(F.lit(v.upper()))
    elif k is CriterionKind.EMAIL_REGEX:  # :257, search (unanchored) semantics
        pred = F.col(c["email"]).rlike(v)
    elif k is CriterionKind.USERNAME_CONTAINS:  # :258-262
        pred = F.upper(F.col(c["username"])).contains(F.lit(v.upper()))
    elif k is CriterionKind.USERNAME_REGEX:  # :263 ((?i) prepended by the DSL parser)
        pred = F.col(c["username"]).rlike(v)
    elif k is CriterionKind.USERAGENT_LENGTH_LTE:  # :264-267
        pred = F.length(F.col(c["user_agent"])) <= F.lit(int(v))
    elif k is CriterionKind.CODE:  # :268 -> src/lua.rs:109-119
        from ..lua_compat import code_predicate_column

        pred = code_predicate_column(v, c, rule_name=rule_name, error_acc=error_acc)
    else:  # pragma: no cover
        raise ValueError(f"unknown criterion kind: {k}")
    # Reference predicates are strictly two-valued (Lua bools); collapse 3VL.
    return F.coalesce(pred, F.lit(False))


def rule_predicate(
    rule: Rule, cols: dict[str, str] | None = None, error_acc=None
) -> Column:
    """Criterion + the susp_ip gate (src/eventhandler.rs:120-126)."""
    c = {**USER_COLS, **(cols or {})}
    pred = criterion_to_column(rule.criterion, c, rule_name=rule.name, error_acc=error_acc)
    if rule.susp_ip:
        pred = pred & F.coalesce(F.col(c["susp_ip"]), F.lit(False))
    return pred


def rule_signature(rule: Rule) -> tuple:
    """What a rule's rule-scan element depends on: name, criterion and
    the susp_ip gate."""
    return (rule.name, rule.criterion.kind, rule.criterion.value, rule.susp_ip)


def matches_column(
    active: list[Rule],
    cols: dict[str, str] | None = None,
    with_actions: bool = False,
    error_acc=None,
    elements: dict | None = None,
) -> Column:
    """The rule-scan expression ALONE: array of matched (rule_name[, actions])
    structs for one event row. A Column is an immutable expression tree not
    bound to any DataFrame, so long-lived callers (the streaming engine) can
    compile it once per RULESET and reuse it across micro-batches — plan
    composition cost is paid on rule change, not per batch.

    ``elements`` maps ``rule_signature`` to a rule's already-built
    ``when(pred, struct)`` element; missing entries are built and added.
    A caller that passes the same dict (with the same ``cols`` and
    ``error_acc``, and ``with_actions`` off: the signature leaves actions
    out) on every rule-set change compiles
    only the rules new to it; reassembling the array from built elements
    is a small fraction of building them (each costs py4j round trips, a
    CODE rule a translation and a pandas UDF)."""
    if elements is None:
        elements = {}
    structs = []
    for r in active:
        sig = rule_signature(r)
        if sig not in elements:
            payload = [F.lit(r.name).alias("rule_name")]
            if with_actions:
                # a rule with no actions needs an explicitly TYPED empty
                # array: bare F.array() is ARRAY<NULL>, which fails struct
                # unification against other rules' ARRAY<STRING> at analysis
                acts = (
                    F.array(*[F.lit(a.value) for a in r.actions])
                    if r.actions
                    else F.array().cast("array<string>")
                )
                payload.append(acts.alias("actions"))
            elements[sig] = F.when(
                rule_predicate(r, cols, error_acc), F.struct(*payload)
            )
        structs.append(elements[sig])
    return F.filter(F.array(*structs), lambda x: x.isNotNull())


def compile_matches(
    df: DataFrame,
    rules: list[Rule],
    now: dt.datetime | None = None,
    cols: dict[str, str] | None = None,
    with_actions: bool = False,
) -> DataFrame:
    """The J1 rule scan: events x rules -> (event columns..., rule_name[, action]).

    One map-side projection; an event matching k rules yields k rows
    (``matched_rules`` in the reference, src/eventhandler.rs:117,149).
    ``with_actions`` additionally explodes each rule's action list to one row
    per (event, rule, action).
    """
    active = [r for r in rules if r.is_active(now)]  # plan-time gate pruning
    if not active:
        out = df.select("*", F.lit("").alias("rule_name"))
        if with_actions:
            out = out.select("*", F.lit("").alias("action"))
        return out.limit(0)

    matches = matches_column(active, cols, with_actions)
    out = df.withColumn("_match", F.explode(matches))
    if with_actions:
        return out.select(
            *df.columns,
            F.col("_match.rule_name").alias("rule_name"),
            F.explode(F.col("_match.actions")).alias("action"),
        )
    return out.select(*df.columns, F.col("_match.rule_name").alias("rule_name"))


def would_fire(
    df: DataFrame,
    rules: list[Rule],
    now: dt.datetime | None = None,
    cols: dict[str, str] | None = None,
) -> DataFrame:
    """Dry-run report (src/eventhandler.rs:128-145): per event, the array of
    rule names that WOULD fire — no explosion, no side effects, no stats.
    The keystone of the reference's own test harness (SURVEY.md §3.3/§5)."""
    active = [r for r in rules if r.is_active(now)]
    if not active:
        return df.withColumn("would_fire", F.array().cast("array<string>"))
    names = F.array(*[F.when(rule_predicate(r, cols), F.lit(r.name)) for r in active])
    return df.withColumn("would_fire", F.filter(names, lambda x: x.isNotNull()))
