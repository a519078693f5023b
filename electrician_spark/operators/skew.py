"""Skew & join-strategy helpers (SURVEY §7.2.9 scale hygiene).

At 100 TB the failure modes are: one hot key owning a shuffle
partition, and a sort-merge join where a broadcast would do. AQE
(enabled by the session factory) already splits skewed *shuffle
partitions*; the salting here handles the harder case — skewed *join
keys* in aggregations and joins AQE can't split (e.g. a single key
bigger than any partition split).

- ``salted_agg``: two-phase aggregation — salt the key, partial-agg on
  (key, salt), then final-agg on key. Turns one hot reducer into
  ``n_salts`` parallel ones. Only associative aggregates qualify.
- ``salted_join``: replicate the *small* side per salt, salt the big
  side — classic replicated skew join.
- ``broadcast_if_small``: explicit broadcast below a row/size budget;
  otherwise leave Catalyst to choose.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from electrician_spark.io import size_estimate


def with_salt(df: DataFrame, n_salts: int, salt_col: str = "_salt") -> DataFrame:
    """Per-row salt that spreads even byte-identical duplicate rows.

    Hashing row *content* alone sends identical rows — the common shape
    of a hot key in dedup corpora — to one salt, recreating the skew the
    salt exists to break. The mix therefore includes the row's physical
    position (``monotonically_increasing_id`` = partition_id << 33 |
    row-in-partition), which spreads duplicates uniformly. A retried
    task recomputes the same partition with the same scan order, so the
    salts it emits are identical — exactly-once sinks stay safe. Across
    *runs* with a different input layout the salt values may differ;
    salts are a partitioning device and must never leak into results
    (``salted_agg``/``salted_join`` drop them before returning)."""
    mix = F.xxhash64(*[F.col(c) for c in df.columns], F.monotonically_increasing_id())
    return df.withColumn(salt_col, F.pmod(mix, F.lit(n_salts)).cast("int"))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation for associative aggregates
    (sum/count/min/max). ``aggs``: output_name → 'fn(col)' spec, e.g.
    {'total': 'sum(v)', 'n': 'count(*)'}."""
    partial_exprs = []
    final_exprs = []
    for out, spec in aggs.items():
        fn, col = spec.rstrip(")").split("(")
        if fn == "count":
            # count(*) counts rows; count(col) must skip NULLs — the
            # partial must match, or the final sum inflates NULL rows.
            counted = F.lit(1) if col == "*" else F.col(col)
            partial_exprs.append(F.count(counted).alias(f"_p_{out}"))
            final_exprs.append(F.sum(f"_p_{out}").alias(out))
        elif fn == "sum":
            partial_exprs.append(F.sum(col).alias(f"_p_{out}"))
            final_exprs.append(F.sum(f"_p_{out}").alias(out))
        elif fn == "min":
            partial_exprs.append(F.min(col).alias(f"_p_{out}"))
            final_exprs.append(F.min(f"_p_{out}").alias(out))
        elif fn == "max":
            partial_exprs.append(F.max(col).alias(f"_p_{out}"))
            final_exprs.append(F.max(f"_p_{out}").alias(out))
        else:
            raise ValueError(f"non-associative aggregate {fn!r} cannot be salted")
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(*keys, "_salt").agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*final_exprs)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Replicated skew join: big side gets a hash salt; small side is
    exploded ×n_salts so every (key, salt) bucket finds its match. Use
    when one join key dominates and the small side fits ×n_salts.

    Only join types where each *big*-side row carries exactly one salt
    are salt-safe: inner, left/left_outer, left_semi, left_anti. A
    right or full join would emit every unmatched small-side row once
    per salt replica (×n_salts duplicates), so those are rejected."""
    salt_safe = {"inner", "left", "left_outer", "leftouter",
                 "left_semi", "leftsemi", "semi",
                 "left_anti", "leftanti", "anti"}
    if how.lower() not in salt_safe:
        raise ValueError(
            f"salted_join how={how!r} is not salt-safe: the small side is "
            f"replicated ×{n_salts}, so right/full joins would duplicate "
            "every unmatched small-side row once per salt. Use inner, "
            "left, left_semi, or left_anti."
        )
    big_s = with_salt(big, n_salts)
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>"))
    )
    out = big_s.join(small_s, [on, "_salt"], how)
    return out.drop("_salt")


def broadcast_if_small(df: DataFrame, max_bytes: int = 64 << 20) -> DataFrame:
    """Broadcast hint gated on the optimizer's size estimate — no job
    runs at plan-construction time (an eager ``count()`` here would be
    a full scan of a 100 TB table before the query even starts). The
    estimate is the same statistic Catalyst's autoBroadcastJoinThreshold
    consults (file sizes for scans, propagated through projections), so
    this differs from relying on Catalyst only in applying a *caller's*
    budget — e.g. hinting a dimension Catalyst under-estimates. Without
    an estimate ``df`` is returned unhinted."""
    size = size_estimate(df)
    if size is not None and size <= max_bytes:
        return F.broadcast(df)
    return df
