"""Fuzzy string matching at scale: exact edit-distance-<=1 pairs via
deletion-neighborhood blocking.

The moderation use case (reference-adjacent): typosquatted alt accounts —
usernames one edit apart from an existing account (src/signup/rules.rs
matches usernames by substring/regex; distance-1 is the fuzzy complement).

A naive all-pairs Levenshtein is O(n^2) and un-shardable. Deletion
blocking (the FastSS family) is exact for distance <= 1: every string
emits |s|+1 variants (itself + each single-character deletion), and any
pair at edit distance <= 1 shares at least one variant —
  * equal strings share the string itself;
  * a substitution at position i shares the deletion-at-i variant;
  * an insertion/deletion pair shares the shorter string (which is one
    of the longer string's deletion variants).
Candidates therefore come from variant-bucket pairs (one shuffle on the
variant, fanout bounded by bucket sizes), then a cheap Levenshtein
verify keeps true positives. Variants are a map-side transform; nothing
quadratic ever materializes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _bucket_local_pairs


def deletion_variants(col: Column) -> Column:
    """Array of the string itself + every single-character deletion."""
    return F.concat(
        F.array(col),
        F.transform(
            F.sequence(F.lit(1), F.length(col)),
            lambda i: F.concat(
                F.substring(col, F.lit(1), i - 1),
                F.substring(col, i + 1, F.length(col)),
            ),
        ),
    )


def edit_distance_pairs(
    df: DataFrame,
    col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Distinct unordered pairs of values of ``col`` with Levenshtein
    distance in [1, max_dist]. Only ``max_dist=1`` is supported (the
    deletion-blocking completeness argument above is distance-1; higher
    distances need the full FastSS recursive deletion sets).

    Output: (name_a, name_b, dist) with name_a < name_b, dist == 1.
    """
    if max_dist != 1:
        raise ValueError("deletion blocking implemented for max_dist=1 only")
    names = df.select(F.col(col).alias("id")).filter(F.col("id").isNotNull()).distinct()
    # Small-corpus tier (round-10, the LSH-tier design): variant
    # generation, bucket pairing and the distance-1 verify as driver
    # Python over ONE Arrow collect of the distinct names — the
    # distributed shape's variant explosion + bucket shuffle + distinct +
    # levenshtein verify are per-job fixed cost at test scale. The verify
    # is an exact one-edit check (a deletion-variant candidate pair has
    # distance 1 iff equal-length strings differ at exactly one position,
    # or length-±1 strings match after deleting the extra char), so rows
    # equal the levenshtein == 1 filter by construction. Past the gates
    # (input estimate / name count / bucket volume) the distributed
    # bucket-local shape below is unchanged — the 100 TB path.
    from .util import small_corpus_pdf

    npdf = small_corpus_pdf(names, df)
    if npdf is not None and len(npdf) <= 500_000:
        import pandas as pd

        buckets: dict[str, list[str]] = {}
        for s in npdf["id"]:
            variants = {s}
            for i in range(len(s)):
                variants.add(s[:i] + s[i + 1 :])
            for v in variants:
                buckets.setdefault(v, []).append(s)
        total = sum(len(m) * (len(m) - 1) // 2 for m in buckets.values())
        if total <= (1 << 24):

            def one_edit(x: str, y: str) -> bool:
                if len(x) == len(y):
                    return sum(1 for cx, cy in zip(x, y) if cx != cy) == 1
                if abs(len(x) - len(y)) != 1:
                    return False
                lo, hi = (x, y) if len(x) < len(y) else (y, x)
                i = 0
                while i < len(lo) and lo[i] == hi[i]:
                    i += 1
                return lo[i:] == hi[i + 1 :]

            seen: set[tuple[str, str]] = set()
            out_a, out_b = [], []
            for members in buckets.values():
                if len(members) < 2:
                    continue
                ms = sorted(set(members))
                for i in range(len(ms)):
                    for j in range(i + 1, len(ms)):
                        p = (ms[i], ms[j])
                        if p not in seen:
                            seen.add(p)
                            if one_edit(*p):
                                out_a.append(p[0])
                                out_b.append(p[1])
            return df.sparkSession.createDataFrame(
                pd.DataFrame(
                    {
                        "name_a": out_a,
                        "name_b": out_b,
                        "dist": [1] * len(out_a),
                    }
                ),
                schema="name_a string, name_b string, dist int",
            )
    # a deletion can repeat (e.g. "aa" -> "a" twice) — but only WITHIN one
    # string's own variant array, so array_distinct dedups map-side; a
    # row-level distinct here would be a second full-data exchange
    # back-to-back with the variant-bucket shuffle for nothing
    exploded = names.select(
        "id", F.explode(F.array_distinct(deletion_variants(F.col("id")))).alias("variant")
    )
    cands = (
        _bucket_local_pairs(exploded, ["variant"], [])
        .select(F.col("a.id").alias("name_a"), F.col("b.id").alias("name_b"))
        .distinct()
    )
    return (
        cands.withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") == 1)
        .select("name_a", "name_b", F.col("dist").cast("int").alias("dist"))
    )
