"""Distinct-count sketches for corpus-scale cardinality estimation.

The reference's meter keeps exact atomic counters per metric name
(``pkg/internal/meter/metrics.go:59-97``); at 100 TB the analogous
"how many distinct users / URLs / documents" question cannot be
answered with ``count(DISTINCT x)`` without shuffling every distinct
value. These operators answer it with a fixed-size sketch built from
``k`` independent MIN aggregates over md5-derived hashes — the
KMV-family estimator (Bar-Yossef et al. 2002): for ``n`` distinct
values hashed uniformly into (0, 1], the expected minimum is
``1/(n+1)``, so ``n̂ = k / Σ mᵢ − 1`` averaged over ``k`` independent
hash functions, with relative error ~ ``1/√k``.

Scale notes (100 TB):
- The sketch is ``k`` ``min(...)`` aggregates → full map-side combine
  (partial_min per input partition); the shuffle carries ``k`` longs
  per group, never the distinct values themselves. Exact
  ``count(DISTINCT)`` shuffles every distinct value; this shuffles a
  constant 8·k bytes per group regardless of cardinality.
- Sketches form a monoid: union semantics = elementwise min. Build a
  sketch per day/partition/table, store the k registers, merge years
  of them without re-touching raw data (:func:`merge_sketches`).
- Everything is md5-keyed and expression-ordered, so the estimate is
  bit-identical across runs, cluster sizes, and engines — the DuckDB
  oracle replays it exactly (same hash, same left-assoc summation).

Determinism note: the register sum is built as a fixed left-associative
expression chain ``(h0 + h1) + h2 ...`` — one defined IEEE-754
evaluation order, not a parallel reduce — so cross-engine float
equality holds.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_KEY_SPACE = float(1 << 32)


def _register_hash(value: Column, seed: int) -> Column:
    """Seeded md5-derived hash in [0, 2^32) — the same first-8-hex-digit
    construction as ``sampling.sample_key`` with a ``{seed}:`` prefix,
    mirroring the minhash signature family (``dedup.minhash_signatures``)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), value.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")


def distinct_sketch(
    df: DataFrame,
    value_col: str,
    k: int = 16,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-group distinct-count sketch: ``k`` registers ``h0..h{k-1}``,
    register ``i`` = min over rows of the seed-``i`` hash of the value.

    One aggregation, fully map-side combinable; the result is the
    mergeable sketch, not the estimate — feed to
    :func:`estimate_distinct` or :func:`merge_sketches`.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    aggs = [
        F.min(_register_hash(F.col(value_col), i)).alias(f"h{i}") for i in range(k)
    ]
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def merge_sketches(
    a: DataFrame, b: DataFrame, k: int, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Union-of-inputs semantics: elementwise min of registers. Groups
    present in only one input keep that input's registers (min over the
    union). Exact — merging per-partition sketches equals sketching the
    concatenated data, so sketches can be stored and combined later."""
    unioned = a.unionByName(b)
    aggs = [F.min(f"h{i}").alias(f"h{i}") for i in range(k)]
    if group_cols:
        return unioned.groupBy(*group_cols).agg(*aggs)
    return unioned.agg(*aggs)


def estimate_distinct(sketch: DataFrame, k: int, precision: int = 6) -> DataFrame:
    """Estimate from a sketch table: ``n̂ = k / Σ (hᵢ+1)/2^32 − 1``
    rounded to ``precision`` decimals, registers dropped. The +1 maps
    the integer hash into (0, 2^32] so a register can never contribute
    a zero divisor."""
    total = None
    for i in range(k):
        term = (F.col(f"h{i}") + F.lit(1)) / F.lit(_KEY_SPACE)
        total = term if total is None else total + term
    est = F.round(F.lit(float(k)) / total - F.lit(1.0), precision)
    return sketch.withColumn("distinct_est", est).drop(*[f"h{i}" for i in range(k)])


def sketch_distinct(
    df: DataFrame,
    value_col: str,
    k: int = 16,
    group_cols: Sequence[str] = (),
    precision: int = 6,
) -> DataFrame:
    """End-to-end convenience: sketch then estimate."""
    return estimate_distinct(
        distinct_sketch(df, value_col, k, group_cols), k, precision
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005) — per-KEY frequency
# estimation with a fixed-size table, the counting companion of the
# KMV distinct sketch and the MG heavy-hitters candidates: answer
# "about how often does key x occur?" over a keyspace too large to
# groupBy, with one-sided error (estimates never undercount; they
# overcount by ≤ ε·N with probability 1−δ at width w = ⌈e/ε⌉, depth
# d = ⌈ln 1/δ⌉).
#
# Same DataFrame-native posture as the Bloom filter (operators/bloom):
# the sketch IS a (row, col, cnt) table of ≤ d·w rows — mergeable by
# union+sum (a monoid), portable across engines via the md5 column
# hash, never driver-side state.
# ---------------------------------------------------------------------------


def count_min_build(
    df: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Build the sketch table: one (row, col, cnt) entry per occupied
    cell, ``col = md5(row:key) % width`` (the repo-portable hash —
    DuckDB replays it bit-for-bit). One linear scan: a d-way explode
    of each input row followed by a map-side-combined count; the
    shuffle is bounded by d·w cells regardless of input size.

    The (width, depth) geometry is STAMPED into the table as literal
    columns — merge/estimate read and validate it, so a probe built
    with mismatched params fails loudly instead of silently hashing
    into the wrong cell layout (which would break the one-sided
    never-undercount guarantee)."""
    if width <= 0 or depth <= 0:
        raise ValueError(f"width/depth must be positive, got {width}/{depth}")
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                (_register_hash(F.col(key_col), r) % width).alias("col"),
            )
            for r in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("_c"))
        .groupBy(F.col("_c.row").alias("row"), F.col("_c.col").alias("col"))
        .agg(F.count("*").alias("cnt"))
        .withColumn("width", F.lit(width))
        .withColumn("depth", F.lit(depth))
    )


def _cm_geometry(sketch: DataFrame) -> tuple[int, int]:
    """Read the stamped (width, depth) off a sketch table — one tiny
    job on a ≤ d·w-row governance table (bounded by construction, so
    the driver action is cheap and safe)."""
    if "width" not in sketch.columns or "depth" not in sketch.columns:
        raise ValueError(
            "sketch lacks the (width, depth) stamp — build it with "
            "count_min_build (mismatched geometry would silently break "
            "the never-undercount guarantee)"
        )
    head = sketch.select("width", "depth").first()
    if head is None:  # empty stream: any geometry estimates all-zero correctly
        return (0, 0)
    return (int(head["width"]), int(head["depth"]))


def count_min_merge(*sketches: DataFrame) -> DataFrame:
    """Union sketches built with the SAME (width, depth): cell-wise
    sum — the monoid that lets per-day/per-shard sketches roll up
    without re-touching raw data. Geometry stamps are validated up
    front (mixed-geometry cells would sum counters from different
    hash layouts — an undetectable corruption otherwise)."""
    if not sketches:
        raise ValueError("need at least one sketch")
    geoms = {g for s in sketches for g in [_cm_geometry(s)] if g != (0, 0)}
    if len(geoms) > 1:
        raise ValueError(f"cannot merge sketches with mixed geometry: {sorted(geoms)}")
    acc = sketches[0]
    for s in sketches[1:]:
        acc = acc.unionByName(s)
    return (
        acc.groupBy("row", "col", "width", "depth").agg(F.sum("cnt").alias("cnt"))
        .select("row", "col", "cnt", "width", "depth")
    )


def count_min_estimate(
    keys_df: DataFrame,
    sketch: DataFrame,
    key_col: str,
    width: int | None = None,
    depth: int | None = None,
    out_col: str = "est_count",
) -> DataFrame:
    """Append ``out_col``: the Count-Min estimate min over the d row
    counters for each key — NEVER below the true count (one-sided),
    above it only through hash collisions. d broadcast joins of the
    bounded cell table; the probed keys never shuffle (the Bloom probe
    shape). Keys absent from the stream estimate 0.

    (width, depth) default to the geometry STAMPED on the sketch by
    :func:`count_min_build`; passing them explicitly is validated
    against the stamp — probing with a different layout than the build
    used would hash into the wrong cells and coalesce misses to 0,
    silently voiding the one-sided guarantee. Exception: an EMPTY
    sketch carries no rows and therefore no stamp (the stamp rides the
    cell rows), so explicit (width, depth) are accepted unvalidated
    there — harmless, since every probe against an empty sketch
    coalesces to the exact answer 0 regardless of geometry.

    The sketch is lazily materialized (localCheckpoint) before anything
    reads it: the geometry ``first()`` plus the d per-row broadcast
    builds are 1+d separate ACTIONS on the sketch plan, and when the
    caller hands an unmaterialized :func:`count_min_build` result each
    one re-executed the whole corpus-scan build subtree (q_cm1's plan
    showed four identical scan+explode+groupBy chains — guide §2.4,
    don't recompute a shared subtree). The cached artifact is ≤ d·w
    cell rows, bounded by the sketch contract, never the keyed
    stream."""
    sketch = sketch.localCheckpoint(eager=False)
    sw, sd = _cm_geometry(sketch)
    if (sw, sd) == (0, 0):  # empty sketch: every probe estimates 0
        sw = width if width is not None else 1024
        sd = depth if depth is not None else 4
    if width is not None and width != sw:
        raise ValueError(f"width={width} does not match sketch stamp width={sw}")
    if depth is not None and depth != sd:
        raise ValueError(f"depth={depth} does not match sketch stamp depth={sd}")
    width, depth = sw, sd
    sketch = sketch.select("row", "col", "cnt")
    cur = keys_df
    ests = []
    for r in range(depth):
        col_r = _register_hash(F.col(key_col), r) % width
        cur = cur.withColumn(f"_cmc{r}", col_r).join(
            F.broadcast(
                sketch.filter(F.col("row") == r).select(
                    F.col("col").alias(f"_cmc{r}"), F.col("cnt").alias(f"_cmv{r}")
                )
            ),
            f"_cmc{r}",
            "left",
        )
        ests.append(F.coalesce(F.col(f"_cmv{r}"), F.lit(0).cast("long")))
    drop = [c for r in range(depth) for c in (f"_cmc{r}", f"_cmv{r}")]
    return cur.withColumn(out_col, F.least(*ests)).drop(*drop)
