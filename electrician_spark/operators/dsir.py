"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169).

Selects raw-corpus documents that "look like" a small target corpus:
fit two bag-of-hashed-ngrams unigram models (target and raw), score
every raw document with the importance log-weight

    log w(x) = Σ_g  [ log p_target(bucket(g)) − log p_raw(bucket(g)) ]

over the document's unigram+bigram features g (with multiplicity), then
resample k documents with probability ∝ w(x) via deterministic
Gumbel top-k. The feature hash keeps both models bounded at
``n_buckets`` rows regardless of corpus size.

Reference parity: the reference engine has no data-selection stage —
this belongs to the LLM-training-data battery alongside the dedup /
sampling / quality-scoring operators (SURVEY §6).

Spark-first design — every stage is Column expressions, no Python:

- featurize: lower/trim/split + unigram and bigram grams, md5-hashed
  into ``n_buckets`` (``conv(substr(md5(g),1,8),16,10) % B`` — the
  repo-wide portable key, replayable in DuckDB as
  ``CAST('0x'||substr(md5(g),1,8) AS BIGINT) % B``). One explode →
  (doc, bucket) rows with multiplicity.
- fit: groupBy(bucket).count() — map-side combinable; output ≤ B rows.
- score: broadcast-join the (bucket → log-likelihood-ratio) table
  (≤ B rows by construction) against the exploded raw features, then
  one map-side-combinable groupBy(doc).sum().
- resample: Gumbel keys from md5-derived uniforms (the
  ``sampling.shuffle_key`` convention) + ``top_k`` —
  TakeOrderedAndProject, never a global sort.

100 TB posture: one linear scan to fit each model, one linear scan to
score (the raw-model fit and the scoring explode share the same gram
table — pass the same DataFrame and Spark reuses the stage under AQE),
one bounded broadcast (B ≤ a few hundred thousand rows ≪ executor
memory), and two scalar totals on the driver (bounded by contract).
No all-pairs stage anywhere.

Determinism: per-bucket log-ratios are float64; per-document sums are
rounded to 6 dp at the API edge (the repo-wide cross-engine float
contract — summation-order drift is ~1e-12 at document scale, far
below the rounding quantum).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from electrician_spark.operators.relational import top_k
from electrician_spark.operators.sampling import shuffle_key

# Size-estimate gate for the pre-explode fan-out (io.fan_out_small):
# below this the three extra exchanges cost more than the serial gram
# hashing they parallelize. Measured interleaved (outputs identical):
# 0.25 MB estimate (sf0.1) fan LOSES 1.93->2.37 s; 2.4 MB (4x growth)
# fan WINS 4.14->2.50 s; 9.7 MB (16x) fan WINS 14.4->3.5 s. 1 MB sits
# between the measured signs; at 100 TB the scan has enough splits and
# the fan-out is a no-op regardless.
_FAN_OUT_MIN_BYTES = 1 << 20


def _lower_tokens(text: Column) -> Column:
    """Lower-cased whitespace tokens, empties dropped (so leading /
    trailing / repeated whitespace never yields '' grams)."""
    return F.filter(
        F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != F.lit("")
    )


def _gram_strings(toks: Column) -> Column:
    """Array of unigram + bigram feature STRINGS, with multiplicity (a
    bag, not a set: dedup here would make weights insensitive to
    repetition, which the DSIR estimator is not). Bigrams come from a
    native ``arrays_zip`` of two pre-sliced views (codegen — the
    element_at/sequence form evaluated interpreted); only the
    struct→"a b" join runs as a HOF lambda.

    ``toks`` must be an attribute reference (pre-projected token
    array) — see :func:`electrician_spark.functions.text.
    shingles_from_tokens` for why inlining the split is O(len²)."""
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.transform(
        F.arrays_zip(F.slice(toks, 1, n1), F.slice(toks, 2, n1)),
        lambda p: F.concat_ws(" ", p["0"], p["1"]),
    )
    return F.concat(toks, bigrams)


def _bucket_of(g: Column, n_buckets: int) -> Column:
    """md5-hashed feature bucket of one gram string — applied AFTER the
    explode so the hash runs as a codegen'd scalar expression, not
    per-element inside an interpreted higher-order ``transform``
    (measured ~15% on the fit pass at sf0.1; guide §4.1 — prefer
    built-ins in codegen over interpreted lambdas on the hot path)."""
    return F.pmod(
        F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    )


def _bucket_table(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """Exploded (``_id``, ``bucket``) feature rows, with multiplicity.

    ``fan_out_small`` before the explode (r16): the gram explode +
    per-gram md5 is the CPU of the whole fit and runs on the SCAN's
    partitioning — a one-file corpus (one split) serialized it on a
    single core while the session idled (measured: q_ir1's 64×
    growth point ran 66.5 s wall at 92.8 s process-tree CPU ≈ 4%
    utilization of local[32]; guide §2.2 — the same reason
    _shingle_table fans out). No-op at 100 TB (thousands of splits)
    and on any input already at session parallelism."""
    from electrician_spark.io import fan_out_small

    t = fan_out_small(
        df.select(
            F.col(id_col).alias("_id"), _lower_tokens(F.col(text_col)).alias("_tk")
        ),
        min_bytes=_FAN_OUT_MIN_BYTES,
    )
    return t.select(
        "_id", F.explode(_gram_strings(F.col("_tk"))).alias("_g")
    ).select("_id", _bucket_of(F.col("_g"), n_buckets).alias("bucket"))


def fit_hashed_ngram_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8192,
) -> DataFrame:
    """Hashed-ngram model counts: (bucket, cnt), ≤ ``n_buckets`` rows.
    One linear scan, map-side-combinable groupBy."""
    return (
        _bucket_table(df, id_col, text_col, n_buckets)
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )


def log_ratio_table(
    target_counts: DataFrame, raw_counts: DataFrame, n_buckets: int
) -> tuple[DataFrame, float]:
    """Per-bucket importance log-ratio under add-one smoothing:

        llr(b) = ln((ct_b + 1) / (T_t + B)) − ln((cr_b + 1) / (T_r + B))

    Returns ``(llr_df, default_llr)`` where ``default_llr`` is the
    ratio for a bucket absent from BOTH models (ct = cr = 0) — scoring
    a corpus other than the raw-model fit corpus can hit such buckets.

    The two totals are collected to the driver — two scalars, bounded
    by contract (same posture as the domain-census collects).

    Both count tables are lazily materialized (localCheckpoint) before
    the totals are read: each total's collect is an ACTION on the fit
    subtree, and without the cache the final scoring plan would rerun
    both corpus-wide gram explode+groupBy fits a second time (guide
    §1.2/§2.4 — don't recompute what an action already computed). The
    cached artifact is ≤ n_buckets count rows per model — bounded by
    the model contract, never corpus-sized."""
    target_counts = target_counts.localCheckpoint(eager=False)
    raw_counts = raw_counts.localCheckpoint(eager=False)
    t_total = target_counts.agg(F.sum("cnt")).collect()[0][0] or 0
    r_total = raw_counts.agg(F.sum("cnt")).collect()[0][0] or 0
    lt, lr = math.log(t_total + n_buckets), math.log(r_total + n_buckets)
    llr = (
        target_counts.select("bucket", F.col("cnt").alias("_ct"))
        .join(
            raw_counts.select("bucket", F.col("cnt").alias("_cr")),
            "bucket",
            "full_outer",
        )
        .select(
            "bucket",
            (
                F.log(F.coalesce(F.col("_ct"), F.lit(0)) + 1)
                - F.lit(lt)
                - F.log(F.coalesce(F.col("_cr"), F.lit(0)) + 1)
                + F.lit(lr)
            ).alias("llr"),
        )
    )
    return llr, lr - lt


def dsir_log_weights(
    df: DataFrame,
    llr_df: DataFrame,
    default_llr: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8192,
) -> DataFrame:
    """Per-document importance log-weight: (id, log_w, n_grams).

    Explode the document's feature buckets, broadcast-join the
    log-ratio table, sum per document (map-side combinable). ``log_w``
    is rounded to 6 dp (cross-engine float contract); ``n_grams`` is
    the feature count. 0-gram documents (empty/whitespace-only text)
    score ``log_w = 0.0`` with ``n_grams = 0`` — every input id
    appears in the output exactly once. They ride the SAME scan via
    ``explode_outer`` (empty gram arrays keep one NULL-bucket row), so
    restoring them costs zero extra joins/shuffles — a corpus-wide
    left join back onto the ids would be two avoidable exchanges at
    100 TB."""
    return _score_weights(
        df, llr_df, F.lit(default_llr), id_col, text_col, n_buckets
    )


def _score_weights(
    df: DataFrame,
    llr_df: DataFrame,
    default_col,
    id_col: str,
    text_col: str,
    n_buckets: int,
    attach_row: DataFrame | None = None,
) -> DataFrame:
    """Scoring core shared by :func:`dsir_log_weights` (driver-float
    default) and :func:`dsir_select` (in-plan one-row default):
    ``default_col`` is any Column valid in the post-join projection;
    ``attach_row`` is an optional ONE-row DataFrame broadcast-cross-
    joined onto every scored row (the in-plan default's carrier — the
    same pinned pattern as lmquality's oov_row)."""
    from electrician_spark.io import fan_out_small

    # fan-out before the explode for the same reason as _bucket_table
    # (r16): the scoring explode + hash is the pass's CPU and must not
    # ride a one-split scan's partitioning.
    t = fan_out_small(
        df.select(
            F.col(id_col).alias("_id"), _lower_tokens(F.col(text_col)).alias("_tk")
        ),
        min_bytes=_FAN_OUT_MIN_BYTES,
    )
    grams = t.select(
        "_id", F.explode_outer(_gram_strings(F.col("_tk"))).alias("_g")
    ).select("_id", _bucket_of(F.col("_g"), n_buckets).alias("bucket"))
    scored = grams.join(F.broadcast(llr_df), "bucket", "left")
    if attach_row is not None:
        scored = scored.join(F.broadcast(attach_row))
    return (
        scored.groupBy(F.col("_id").alias(id_col))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("bucket").isNull(), F.lit(0.0)).otherwise(
                        F.coalesce(F.col("llr"), default_col)
                    )
                ),
                6,
            ).alias("log_w"),
            F.count("bucket").alias("n_grams"),
        )
    )


def dsir_select(
    raw_df: DataFrame,
    target_df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8192,
    seed: int = 0,
) -> DataFrame:
    """End-to-end DSIR: fit both models, score ``raw_df``, Gumbel
    top-k resample. Returns (id, log_w, gumbel_key) for the k selected
    documents, highest key first.

    Gumbel trick: adding independent Gumbel(0,1) noise to each log
    weight and taking the arg-top-k draws k documents without
    replacement with probability ∝ w(x). The noise is deterministic —
    ``u = (shuffle_key(seed:id) + 0.5) / 2^32``, ``g = −ln(−ln u)`` —
    so the same corpus + seed selects the same documents on any
    cluster size or engine (the +0.5 keeps u strictly inside (0,1)).
    ``top_k`` compiles to TakeOrderedAndProject: per-partition heads
    only, no global sort.

    Zero driver collects (r15): the two model totals are computed
    IN-PLAN as one-row aggregates cross-joined onto the llr table and
    the unseen-bucket default, instead of :func:`log_ratio_table`'s two
    driver-scalar collects — those collects were two full driver
    barriers that each executed a corpus-wide fit before the real
    scoring job could start (guide §5: the driver should do almost no
    data work; the fit subtrees now run exactly once, inside the one
    terminal action). ``ln`` moves from Python libm to the JVM — the
    same cross-engine-double-at-6dp contract the oracle replay already
    rides (DuckDB computes its own ``ln`` too)."""
    target_counts = fit_hashed_ngram_counts(target_df, id_col, text_col, n_buckets)
    raw_counts = fit_hashed_ngram_counts(raw_df, id_col, text_col, n_buckets)
    tot = target_counts.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("_tt")
    ).join(raw_counts.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("_tr")))
    lt = F.log(F.col("_tt") + n_buckets)
    lr = F.log(F.col("_tr") + n_buckets)
    llr = (
        target_counts.select("bucket", F.col("cnt").alias("_ct"))
        .join(
            raw_counts.select("bucket", F.col("cnt").alias("_cr")),
            "bucket",
            "full_outer",
        )
        .join(F.broadcast(tot))
        .select(
            "bucket",
            (
                F.log(F.coalesce(F.col("_ct"), F.lit(0)) + 1)
                - lt
                - F.log(F.coalesce(F.col("_cr"), F.lit(0)) + 1)
                + lr
            ).alias("llr"),
        )
    )
    # unseen-bucket default as its own ONE-row broadcast (attached by a
    # broadcast cross join in the scorer) — it must reach rows the llr
    # join does NOT match, so it cannot ride the llr table itself
    dflt_row = tot.select((lr - lt).alias("__dflt"))
    weights = _score_weights(
        raw_df,
        llr,
        F.col("__dflt"),
        id_col,
        text_col,
        n_buckets,
        attach_row=dflt_row,
    )
    u = (shuffle_key(F.col(id_col), seed) + F.lit(0.5)) / F.lit(float(1 << 32))
    gumbel = -F.log(-F.log(u))
    keyed = weights.select(
        id_col,
        "log_w",
        F.round(F.col("log_w") + gumbel, 6).alias("gumbel_key"),
    )
    return top_k(keyed, [F.col("gumbel_key").desc(), F.col(id_col)], k)
