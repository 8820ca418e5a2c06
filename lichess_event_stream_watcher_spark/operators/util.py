"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session_cache import register_session_cache


def spread(df: DataFrame) -> DataFrame:
    """Ensure at least defaultParallelism partitions for CPU-heavy map work.

    Tiny local inputs (single-row-group parquet) arrive as ONE unsplittable
    partition, serializing per-row compute on one core. At real scale the
    scan has >= cores splits and this is a no-op — the repartition (a cheap
    round-robin of the raw rows) only fires on under-split inputs.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # probe splits WITHOUT df.rdd (which builds a full RDD conversion of the
    # plan on every call): for file scans the file count is the cheap proxy
    # (>= target files always yields >= target splits; fewer, possibly-large
    # files make the round-robin repartition a reasonable balance move for
    # the CPU-heavy consumers this wraps). Non-file plans (createDataFrame,
    # joins) fall back to the RDD probe.
    try:
        n_files = len(df.inputFiles())
    except Exception:  # noqa: BLE001 - non-file source
        n_files = 0
    if n_files >= target:
        return df
    if n_files == 0 and df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for a DataFrame's optimized plan, in bytes
    (no job runs — this reads the statistics the planner itself uses, e.g.
    file sizes times filter selectivities). ``None`` when unavailable
    (Spark Connect, estimation failure)."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:  # noqa: BLE001 - connect/estimation failure
        return None


# Input-size ceiling of the small-corpus gate below, which admits both the
# driver tiers' one-transfer collects and the shared-subtree persists:
# conservatively sized so a collected frame or a cached derived table
# (shingles explode the text ~2x) stays a few hundred MB at worst. Override
# per session with spark.conf "lesw.smallCorpusCacheBytes" (0 forces every
# operator onto its distributed shape).
SMALL_CORPUS_CACHE_BYTES = 64 * 1024 * 1024


def small_corpus_cache_limit(df: DataFrame) -> int:
    raw = df.sparkSession.conf.get(
        "lesw.smallCorpusCacheBytes", str(SMALL_CORPUS_CACHE_BYTES)
    )
    try:
        return int(raw)
    except ValueError:
        raise ValueError(
            f"lesw.smallCorpusCacheBytes must be an integer byte count, got {raw!r}"
        ) from None


def _admits(*gates: DataFrame) -> bool:
    """True when every gate frame's Catalyst estimate is known and within
    the small-corpus limit — the input is provably small."""
    for g in gates:
        est = plan_size_bytes(g)
        if est is None or est > small_corpus_cache_limit(g):
            return False
    return True


def small_corpus_pdf(frame: DataFrame, *gates: DataFrame, nonnull: tuple[str, ...] = ()):
    """ONE Arrow ``toPandas`` of ``frame`` when every gate frame (the
    operator's inputs; ``frame`` itself when none are given) is provably
    small; ``None`` past the gate, or when a ``nonnull`` column holds a
    null.

    The rule every driver tier follows when it leaves Spark: at test
    scale the distributed shape's cost is per-job fixed overhead, so a
    gate-admitted input moves to the driver in one transfer and the tier
    computes the same rows in numpy; at 100 TB the estimate is huge and
    the operator keeps its distributed shape. Null keys bail because the
    tiers group rows by sort-adjacency, and NaN != NaN would split equal
    null ids that a distributed groupBy merges. Site-specific checks
    (empty frames, row and vocabulary caps, NaN elements) stay with the
    caller."""
    if not _admits(*(gates or (frame,))):
        return None
    pdf = frame.toPandas()
    if len(pdf) and any(pdf[c].isna().any() for c in nonnull):
        return None
    return pdf


def persist_if_small(frame: DataFrame, gate: DataFrame) -> DataFrame:
    """``frame`` persisted and session-registered when ``gate`` (its
    source) is provably small, else ``frame`` unchanged: cache a subtree
    several plan branches consume when the input is small, recompute it
    when it is not (persisting corpus-sized derived tables at 100 TB
    trades a recompute for cluster-wide storage pressure)."""
    if not _admits(gate):
        return frame
    return register_session_cache(frame.persist())


def persisted_rdd_ids(df_or_spark) -> set[int]:
    """Snapshot the ids of currently-persisted RDDs (classic Spark only;
    returns empty when the JVM handle is unavailable). Used by iterative
    operators to identify the RDDs a ``localCheckpoint`` round registered
    so superseded rounds can be unpersisted."""
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}
    except Exception:  # noqa: BLE001 - e.g. Spark Connect
        return set()


def unpersist_rdd_ids(df_or_spark, ids: set[int]) -> None:
    """Unpersist the given RDD ids if still registered (non-blocking).

    The cleanup half of the iterative-checkpoint discipline: each round of
    label propagation / peeling / PageRank localCheckpoints its state, and
    WITHOUT explicit cleanup every superseded round stays in storage memory
    for the session's lifetime — a real leak on a long-lived cluster where
    one driver serves thousands of dedup batches. Only the FINAL round's
    checkpoint (backing the returned DataFrame) should outlive the call.
    """
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for i in ids:
            jrdd = jmap.get(i)
            if jrdd is not None:
                jrdd.unpersist(False)
    except Exception:  # noqa: BLE001
        pass


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Skew-safe equi-join: semantics-identical to ``big.join(small, key)``
    for big-side-preserving joins (inner / left / left_semi / left_anti).

    A hot key concentrates its rows in one shuffle partition; salting
    spreads them over ``salt`` sub-keys (round-robin on the big side via
    the arrival id, NOT hash-of-key — hashing the key would send every row
    of the hot key to the same salt again), while the small side replicates
    each key x salt. Use when AQE's runtime skew-join split isn't available
    (e.g. the join feeds a co-partitioned downstream op).

    SMALL-side-preserving joins are rejected: the small side's rows are
    replicated ``salt``-fold, so right/full outer would emit up to
    ``salt`` null-padded rows per unmatched small key (and extra rows for
    matched keys whose big rows don't cover every salt) — NOT the plain
    join's semantics.
    """
    if how.replace("_", "").lower() in ("right", "rightouter", "full", "fullouter", "outer"):
        raise ValueError(
            f"salted_join: how={how!r} preserves the (salt-replicated) "
            "small side and is not semantics-identical to a plain join"
        )
    big_s = big.withColumn("_salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt)).cast("int"))
    small_s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return big_s.join(small_s, [key, "_salt"], how).drop("_salt")
