"""Portable Bloom filter as a DataFrame — the membership prefilter for
decontamination and blocklist probes when the key set outgrows a raw
broadcast.

``contamination_scores`` broadcasts the distinct test-set shingle set;
fine for benchmark suites (MBs), wrong when the "do not train on"
set is itself large (every eval suite + customer opt-outs + license
blocklists can reach many GB of distinct shingles). A Bloom filter
compresses the probe side ~100×: ``m_bits`` bits as ⌈m/63⌉ 63-bit
words — one (word_idx, word) row each — with k md5-derived bit
positions per key. 63-bit words keep every mask positive in a signed
BIGINT, so Spark and DuckDB agree bit-for-bit (the repo's signature
convention problem, sidestepped instead of handled).

Determinism: bit_j(key) = conv(substr(md5(j:key),1,15),16,10) % m —
the repo-wide portable hash; a filter built by any engine/run probes
identically anywhere (DuckDB replay:
``CAST('0x'||substr(md5(j||':'||key),1,15) AS BIGINT) % m``).

Scale posture:
- build: one linear scan of the key set, map-side-combinable
  ``bit_or`` groupBy bounded at ⌈m/63⌉ rows — the filter table for
  m = 2^27 bits (capacity ~10M keys at 1% FP, k=4) is ~17 MB.
- probe: k BroadcastHashJoins of the word table against the
  streaming key rows — ZERO shuffle of the probed corpus.
- Bloom answers are a SUPERSET of true membership (false positives,
  never negatives). :func:`contamination_scores_bloom` therefore
  exact-verifies the candidate subset — the big corpus never meets
  the raw key set, only candidates do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from electrician_spark.operators.dedup import _shingle_table

_WORD_BITS = 63  # positive-mask-only words: portable signed-BIGINT bit ops


def _bit_position(key: Column, j: int, m_bits: int) -> Column:
    """j-th bit position for ``key``: md5-derived, 60-bit positive."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{j}:"), key)), 1, 15), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(m_bits))


def build_bloom(
    keys_df: DataFrame, key_col: str, m_bits: int = 1 << 20, k: int = 4
) -> DataFrame:
    """Build the filter table (word_idx, word) from a key column.
    Duplicate keys are harmless (idempotent ORs). ≤ ⌈m/63⌉ rows."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    bits = keys_df.select(
        F.explode(
            F.array(*[_bit_position(F.col(key_col), j, m_bits) for j in range(1, k + 1)])
        ).alias("_bit")
    )
    return (
        bits.select(
            F.expr(f"CAST(_bit DIV {_WORD_BITS} AS BIGINT)").alias("word_idx"),
            # SQL shiftleft takes a column shift amount (the python
            # F.shiftleft wrapper demands a literal int)
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(_bit % {_WORD_BITS} AS INT))").alias("_mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_mask").alias("word"))
    )


def with_bloom_membership(
    df: DataFrame,
    key_col: str,
    bloom_df: DataFrame,
    m_bits: int = 1 << 20,
    k: int = 4,
    out_col: str = "maybe_member",
) -> DataFrame:
    """Append ``out_col``: True when ALL k bits for ``key_col`` are set
    (possible member — false positives at the filter's FP rate, never
    false negatives). k broadcast left-joins of the word table; the
    probed rows never shuffle."""
    helpers = {"_bit", *(f"_{p}{j}" for j in range(1, k + 1) for p in ("wi", "mk", "w"))}
    clash = helpers & set(df.columns)
    if clash:
        # withColumn would silently overwrite (then drop) the caller's
        # columns — reject rather than vanish user data
        raise ValueError(
            f"input columns collide with bloom probe helpers: {sorted(clash)}"
        )
    # Materialize the word table ONCE before fanning it out k times:
    # each probe join broadcasts it under per-j aliases, and the renamed
    # projections defeat ReuseExchange (sameResult fails), so an
    # unmaterialized bloom_df re-executed its whole build subtree — the
    # key-set scan, shingle explode, bit explode and groupBy — once per
    # hash function (measured at sf0.1: the k=4 probe re-ran the
    # build 4x; guide §2.4 — don't recompute a shared subtree). The
    # cached artifact is the ≤ ⌈m/63⌉-row word table, bounded by the
    # module contract, never the key set.
    bloom_df = bloom_df.localCheckpoint(eager=False)
    cur = df
    flags = []
    for j in range(1, k + 1):
        bit = _bit_position(F.col(key_col), j, m_bits)
        wi, mask = f"_wi{j}", f"_mk{j}"
        cur = (
            cur.withColumn("_bit", bit)
            .withColumn(wi, F.expr(f"CAST(_bit DIV {_WORD_BITS} AS BIGINT)"))
            .withColumn(mask, F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(_bit % {_WORD_BITS} AS INT))"))
            .drop("_bit")
            .join(
                F.broadcast(
                    bloom_df.select(
                        F.col("word_idx").alias(wi), F.col("word").alias(f"_w{j}")
                    )
                ),
                wi,
                "left",
            )
        )
        flags.append(
            F.coalesce(F.col(f"_w{j}"), F.lit(0)).bitwiseAND(F.col(mask)) != F.lit(0)
        )
    member = flags[0]
    for f in flags[1:]:
        member = member & f
    drop = [c for j in range(1, k + 1) for c in (f"_wi{j}", f"_mk{j}", f"_w{j}")]
    return cur.withColumn(out_col, member).drop(*drop)


def contamination_scores_bloom(
    corpus: DataFrame,
    testset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 1 << 20,
    k: int = 4,
    max_broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination — EXACTLY the
    ``contamination_scores`` output (id, n_shingles, n_hits,
    containment), at scale posture that never broadcasts the raw
    test-shingle set:

    1. build the filter from test shingles (bounded word table),
    2. probe every corpus shingle row through k broadcast joins
       (zero corpus shuffle) — candidates = maybe-members,
    3. exact-verify: distinct the CANDIDATE shingles only (a shuffle
       of the small survivor set), semi-join the test shingle stream
       against them (test set scanned, not shuffled, not broadcast),
       broadcast the verified true members back,
    4. count hits per document as usual.

    False positives die in step 3, so the result is exact — the bloom
    only bounds how much of the corpus reaches the verify join.

    ``max_broadcast_rows`` bounds the step-3/4 broadcasts: the
    candidate set is *expected* small (true contamination + the
    filter's ε·|corpus shingles| false positives), but an undersized
    filter or a genuinely contaminated corpus can blow it up — and a
    multi-GB broadcast OOMs every executor at once. Above the bound
    the verify/hit joins fall back to shuffle joins (correct at any
    size, just not shuffle-free); the candidate count is one cheap
    job on the already-checkpointed survivor set."""
    sh_c = _shingle_table(corpus, id_col, text_col, n, None)
    sh_c = sh_c.localCheckpoint()  # probed + counted + hit-joined
    sh_t = _shingle_table(testset, id_col, text_col, n, None).select("_s")
    bloom = build_bloom(sh_t, "_s", m_bits, k)
    probed = with_bloom_membership(sh_c, "_s", bloom, m_bits, k)
    cand = probed.filter(F.col("maybe_member")).select("_s").distinct()
    cand = cand.localCheckpoint()  # counted (guard) + verify-joined
    small = cand.count() <= max_broadcast_rows
    bcast = F.broadcast if small else (lambda df: df)
    verified = (
        sh_t.join(bcast(cand), "_s", "left_semi").distinct().withColumn("_hit", F.lit(1))
    )
    # ONE aggregation pass over the checkpointed corpus shingle stream
    # (r15): a LEFT join attaches the verified-member marker, then
    # count(*) / count(_hit) yield n_shingles and n_hits in the same
    # groupBy. The previous form read sh_c twice (hits + sz aggregates)
    # and outer-joined the two censuses — measured 1.55 s -> 1.06 s
    # median at sf0.1 interleaved (guide §2.3/§2.4: one corpus pass,
    # one shuffle, no sz-to-hits join).
    return (
        sh_c.join(bcast(verified), "_s", "left")
        .groupBy("_id")
        .agg(F.count("*").alias("n_shingles"), F.count("_hit").alias("n_hits"))
        .select(
            F.col("_id").alias(id_col),
            "n_shingles",
            "n_hits",
            (F.col("n_hits") / F.col("n_shingles")).alias("containment"),
        )
    )
