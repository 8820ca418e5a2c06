"""Driver-facing query registry: Spark implementations + DuckDB oracle SQL.

Every operator from SURVEY.md §2 that is SQL-expressible registers BOTH a
Spark callable ``(spark, sf_dir) -> DataFrame`` and the equivalent DuckDB SQL
over the same parquet tables; every registered query carries an oracle.
Both registries keep registration order.

Column names are aliased identically on both sides — the driver's compare
sorts columns by name before hashing values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fixtures, testdata
from .plans.compile import compile_matches, would_fire

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        if name in QUERIES:  # import-order-dependent shadowing is a silent
            raise ValueError(f"duplicate query registration: {name!r}")  # correctness bug
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _signups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return testdata.signups_df(spark, sf_dir)


_CTE = testdata.signups_cte("duckdb")


# ---------------------------------------------------------------------------
# J1 — the flagship broadcast rule scan (SURVEY.md §2.4 J1, §3.1 step 5)
# ---------------------------------------------------------------------------
@query(
    "rule_scan",
    f"{_CTE}\n{fixtures.oracle_union_sql(with_actions=False)}",
)
def rule_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events x rules -> (event_id, username, rule_name). One map-side
    projection; disabled/expired rules pruned at plan time."""
    df = _signups(spark, sf_dir)
    m = compile_matches(df, fixtures.reference_ruleset())
    return m.select("event_id", "username", "rule_name")


@query(
    "rule_scan_actions",
    f"{_CTE}\n{fixtures.oracle_union_sql(with_actions=True)}",
)
def rule_scan_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule scan exploded to one row per (event, rule, action) —
    the action-dispatch input (src/eventhandler.rs:147-256)."""
    df = _signups(spark, sf_dir)
    m = compile_matches(df, fixtures.reference_ruleset(), with_actions=True)
    return m.select("event_id", "username", "rule_name", "action")


@query(
    "would_fire_counts",
    f"""{_CTE},
matches AS ({fixtures.oracle_union_sql(with_actions=False)})
SELECT s.event_id, COALESCE(m.n, 0) AS n_would_fire
FROM signups s
LEFT JOIN (SELECT event_id, COUNT(*) AS n FROM matches GROUP BY event_id) m
  ON s.event_id = m.event_id""",
)
def would_fire_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dry-run path (src/eventhandler.rs:128-145): per event, how many rules
    WOULD fire — no explosion, no side effects."""
    df = _signups(spark, sf_dir)
    wf = would_fire(df, fixtures.reference_ruleset())
    return wf.select("event_id", F.size("would_fire").cast("bigint").alias("n_would_fire"))


# ---------------------------------------------------------------------------
# F1-F7 — each criterion as a standalone filter (SURVEY.md §2.3)
# ---------------------------------------------------------------------------
def _register_single_criterion_queries() -> None:
    rules = {r.name: r for r in fixtures.reference_ruleset()}
    for rule_name, where in fixtures.SQL_PREDICATES.items():
        rule = rules[rule_name]
        qname = f"crit_{rule.criterion.kind.name.lower()}"
        oracle = f"{_CTE}\nSELECT event_id, username FROM signups WHERE {where}"
        if rule_name == "r_susp_proton":
            qname = "crit_susp_ip_gate"

        def make(rule=rule):
            def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
                df = _signups(spark, sf_dir)
                return compile_matches(df, [rule]).select("event_id", "username")

            fn.__doc__ = f"Criterion {rule.criterion.kind.value}: {rule.criterion.friendly()}"
            return fn

        query(qname, oracle)(make())


_register_single_criterion_queries()


# K2 — the jitter/delay policy as data (src/eventhandler.rs:167-178):
# per (event, rule, action), whether delivery is delayed and the fixed extra.
# The random 30-99s draw itself is per-event at dispatch time (Engine);
# the POLICY columns are deterministic and oracle-checked here.
_DELAYED = "('EngineMark', 'BoostMark', 'IpBan', 'Close')"
_NODELAY_RULES = [r.name for r in fixtures.reference_ruleset() if r.no_delay]
_NODELAY_SQL = "('" + "', '".join(_NODELAY_RULES) + "')"


@query(
    "action_schedule",
    f"""{_CTE},
matches AS ({fixtures.oracle_union_sql(with_actions=True)})
SELECT event_id, username, rule_name, action,
  action IN {_DELAYED} AND rule_name NOT IN {_NODELAY_SQL} AS delayed,
  CASE WHEN action = 'Close' AND rule_name NOT IN {_NODELAY_SQL}
       THEN 1500 ELSE 0 END AS extra_delay_ms
FROM matches""",
)
def action_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 delay policy columns over the exploded action dispatch: the
    delay-queue-table form of jittered delivery (executors never sleep)."""
    df = _signups(spark, sf_dir)
    m = compile_matches(df, fixtures.reference_ruleset(), with_actions=True)
    no_delay = F.col("rule_name").isin(_NODELAY_RULES)
    delayed = F.col("action").isin("EngineMark", "BoostMark", "IpBan", "Close") & ~no_delay
    extra = F.when((F.col("action") == "Close") & ~no_delay, F.lit(1500)).otherwise(
        F.lit(0)
    )
    return m.select(
        "event_id",
        "username",
        "rule_name",
        "action",
        delayed.alias("delayed"),
        extra.cast("int").alias("extra_delay_ms"),
    )


# F8 — CODE predicate. Arbitrary user code is non-SQL-expressible in
# general (covered by the differential oracle in tests/test_lua_compat.py),
# but THIS fixture instance translates exactly: regex() is re.search and
# fp() substitutes the "<NO PRINT>" sentinel for NULL (src/lua.rs:17-20),
# so the whole Python-UDF runtime path gets a hash-checked SQL oracle too.
@query(
    "crit_code_predicate",
    f"""{_CTE}
SELECT event_id, username FROM signups
WHERE regexp_matches(email, '@proton')
  AND COALESCE(finger_print, '<NO PRINT>') <> '<NO PRINT>'""",
)
def crit_code_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: `regex(user.email(), "@proton") and user.fp() != "<NO PRINT>"`
    through the code-predicate runtime (sentinel null semantics)."""
    df = _signups(spark, sf_dir)
    return compile_matches(df, [fixtures.code_rule()]).select("event_id", "username")


# §2.10 TTL — the expiry sweep's 0/1/2 latch state machine as distributed
# batch logic over a pinned scenario table (src/eventhandler.rs:428-487).
# Microsecond-precise to match expiry_sweep_classify's F.lit(now) exactly
# (a whole-second truncation here would diverge on sub-second offsets).
_SWEEP_TS = fixtures.SWEEP_NOW.strftime("%Y-%m-%d %H:%M:%S.%f")


@query(
    "rule_expiry_sweep",
    f"""WITH r AS (SELECT * FROM {fixtures.sweep_scenarios_values_sql()})
SELECT 'warn' AS kind, name FROM r
WHERE expiry < TIMESTAMP '{_SWEEP_TS}' + INTERVAL 1 DAY AND latch = 0
UNION ALL
SELECT 'expired' AS kind, name FROM r
WHERE NOT (expiry < TIMESTAMP '{_SWEEP_TS}' + INTERVAL 1 DAY AND latch = 0)
  AND expiry < TIMESTAMP '{_SWEEP_TS}' AND latch <= 1
UNION ALL
SELECT 'deleted' AS kind, name FROM r
WHERE TIMESTAMP '{_SWEEP_TS}' > expiry + INTERVAL 3 DAY""",
)
def rule_expiry_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expiry lifecycle (warn <1 d before / announce at expiry / delete
    +3 d, with the exp_notification latch and the warn+deleted double
    yield) classified distributedly — one scenario row per branch
    combination of the sweep state machine."""
    from .rules.store import expiry_sweep_classify

    return expiry_sweep_classify(
        fixtures.sweep_scenarios_df(spark), fixtures.SWEEP_NOW
    )


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Import registers the extended query families on first use.
    from . import queries_analytics  # noqa: F401
    from . import queries_pipeline  # noqa: F401

    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    from . import queries_analytics  # noqa: F401
    from . import queries_pipeline  # noqa: F401

    return dict(ORACLES)
