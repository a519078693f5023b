"""LM-perplexity quality scoring (CCNet-style head/middle/tail buckets).

Wenzek et al. 2020 ("CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data") scores each document with a language
model trained on a trusted reference corpus (Wikipedia) and buckets the
corpus by perplexity quantiles — the standard model-based quality
stage between heuristic filters (Gopher rules) and dedup. CCNet uses a
KenLM 5-gram; this module ships two dependency-free orders:
- add-α **unigram** (``unigram_lm``/``lm_score``) with a principled
  OOV mass — preserves the head/middle/tail *ranking* structure the
  buckets need (doc-level mean token log-prob is dominated by
  vocabulary choice);
- **bigram Stupid Backoff** (``bigram_lm``/``lm_score_bigram``,
  Brants et al. 2007) — the web-scale order-2 model: context-aware
  scores, no discounting iteration, embarrassingly parallel training.
A full KenLM upgrade remains a drop-in pandas-UDF swap of the scorer.

Scale design:
- ``unigram_lm``: ONE distributed pass over the reference corpus
  (explode → map-side-combined groupBy from text.token_frequency_table)
  reduced to a ``vocab_size``-row model table — model size is bounded
  by vocabulary, never by corpus.
- ``lm_score``: the model table **broadcasts** (≤ a few hundred
  thousand rows); scoring is explode → broadcast hash join → one
  groupBy on doc id. One corpus scan, one shuffle, zero Python.
- ``perplexity_buckets``: thresholds from ``approxQuantile`` (driver
  gets ``n_buckets-1`` floats), applied as a codegen'd CASE — no sort,
  no second shuffle.

Everything is exact given the vocabulary cutoff and deterministic
(count-then-token ordering breaks frequency ties), so a plain-Python
reference reproduces scores bit-for-bit in tests.

Reference parity: the reference engine has no model-based scoring
(closest analog is its sentiment-tagging transformer example,
/root/reference/example/conduit_example/chain/main.go); this module is
part of the mandated LLM-pipeline extension surface.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from electrician_spark.functions.text import tokens
from electrician_spark.io import local_frame


def _lm_tokens(text):
    """LM tokenization: lowercase + whitespace split (the model and the
    scorer must agree — both call this)."""
    return tokens(F.lower(text))


def _fan(df: DataFrame) -> DataFrame:
    """Scale-adaptive fan-out before the token explodes (r16, the dsir
    lesson): tokenize+explode is each pass's CPU and otherwise runs on
    the SCAN's partitioning — a one-file corpus (one split) serializes
    it on one core. Size-estimate gated (io.fan_out_small) so tiny
    inputs keep their exchange-free plan; no-op at 100 TB."""
    from electrician_spark.io import fan_out_small

    return fan_out_small(df, min_bytes=1 << 20)


def unigram_lm(
    ref_df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 100_000,
    alpha: float = 0.1,
) -> DataFrame:
    """Train an add-α-smoothed unigram LM on a reference corpus.

    Returns a (token, logprob) DataFrame of the ``vocab_size`` most
    frequent tokens, count-then-token ordered for determinism, plus the
    metadata needed to score OOV tokens carried as literal columns
    (``oov_logprob`` — identical on every row, so the scorer can read
    it from ``first()`` of the broadcast side without a second pass).

    Smoothing: P(t) = (c_t + α) / (N + α·(V+1)) where V counts the
    kept vocabulary and the +1 is the single OOV class receiving
    P(oov) = α / (N + α·(V+1)). Tokens truncated by ``vocab_size``
    fold into the OOV class (their mass is *not* redistributed — the
    cutoff is part of the model, exactly like a tokenizer vocab).

    The bounded model is MATERIALIZED (collect ≤ vocab_size count rows
    → one local DataFrame): the reference corpus is scanned exactly
    once, no matter how many downstream actions consume the model —
    an uncached lineage would re-run the corpus aggregation per action
    (scoring join, oov fetch, every test assertion)."""
    count_rows = (
        _fan(ref_df.select(F.col(text_col)))
        .select(F.explode(_lm_tokens(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("token"))
        .limit(vocab_size)
        .collect()  # ≤ vocab_size rows — bounded driver fetch, ONE scan
    )
    n = sum(int(r["c"]) for r in count_rows)
    v = len(count_rows)
    denom = n + alpha * (v + 1)
    oov_logprob = math.log(alpha / denom)
    model = [
        (r["token"], math.log((int(r["c"]) + alpha) / denom), oov_logprob)
        for r in count_rows
    ]
    return local_frame(ref_df.sparkSession, model, "token string, logprob double, oov_logprob double")


def lm_score(
    df: DataFrame,
    lm: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean token log-prob and perplexity under ``lm``.

    Plan: explode tokens → **broadcast** left join on the model table
    (OOV rows take the model's ``oov_logprob``) → one groupBy on the
    doc id. Documents with zero tokens score NULL (no fabricated
    perplexity). Output: (id_col, n_tokens, mean_logprob, perplexity),
    perplexity = exp(−mean_logprob)."""
    toks = (
        _fan(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(_lm_tokens(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
    )
    joined = toks.join(F.broadcast(lm.select("token", "logprob")), "token", "left")
    # oov_logprob is constant on the model side: reduce it to ONE row
    # and attach it with a broadcast single-row bounds join (same
    # pinned pattern as quantize.py) so unmatched token rows get it.
    oov_row = lm.agg(F.first("oov_logprob", ignorenulls=True).alias("__oov"))
    scored = joined.join(F.broadcast(oov_row)).select(
        F.col(id_col),
        F.coalesce(F.col("logprob"), F.col("__oov")).alias("lp"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg("lp").alias("mean_logprob"),
        )
        .select(
            id_col,
            "n_tokens",
            "mean_logprob",
            F.exp(-F.col("mean_logprob")).alias("perplexity"),
        )
    )


def bigram_lm(
    ref_df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 100_000,
    max_bigrams: int = 1_000_000,
    alpha: float = 0.1,
) -> tuple[DataFrame, DataFrame]:
    """Train a bigram LM with Stupid Backoff (Brants et al. 2007, "Large
    Language Models in Machine Translation") on a reference corpus —
    the order-2 upgrade of :func:`unigram_lm` toward CCNet's KenLM
    posture. Stupid Backoff is the recognized web-scale choice: scores
    S(w|v) = c(v,w)/c(v) when the bigram is in the table, else
    ``backoff`` · P_unigram(w); no normalization, which is exactly what
    quality *ranking* needs and what makes training embarrassingly
    parallel (two map-side-combined count aggregations, no discounting
    iteration).

    Returns ``(unigram_model, bigram_model)``:
    - unigram_model: the :func:`unigram_lm` table (token, logprob,
      oov_logprob) — also the backoff target;
    - bigram_model: (prev, token, logscore) for the ``max_bigrams``
      most frequent bigrams whose BOTH tokens are in vocabulary,
      logscore = ln(c(v,w)/c(v)), count-then-pair ordered for
      determinism.

    Both tables are bounded (vocab_size / max_bigrams rows) and
    MATERIALIZED. Scale: ONE driver action trains BOTH orders (r15 —
    was one explode+count pass AND one action per order): each token
    position appears exactly once as ``token`` in the lagged
    (prev, token) stream (prev NULL at position 1), so the unigram
    counts are the prev-marginal of the (prev, token) pair census and
    both top-K tables collect as a tagged union. In the executed plan
    the optimizer pushes the bigram branch's prev-filter below the
    census aggregate, so the two branches keep separate scan subtrees
    — but they now run inside one job (overlapping stages instead of
    two serialized actions; measured on q_lm2 at sf0.1: 2.83 → 2.44 s
    interleaved medians, outputs identical). A lazy checkpoint of the
    census (true single scan) was A/B'd and lost at this SF (0.81 vs
    0.73 s — the block write costs more than the second codegen'd
    explode, the q_d2/q_d3 recompute lesson); at corpus scale where
    the ref-corpus scan dominates, materializing the bounded-ish pair
    census before the two top-Ks is the documented swap. The driver
    holds at most vocab_size + max_bigrams rows — the same
    bounded-model contract as unigram_lm (production KenLM swaps in
    as an executor-side pandas UDF)."""
    # arrays_zip pads the shorter side with NULL, so zipping
    # (NULL ++ toks) against toks yields exactly one row per token
    # position carrying its predecessor (plus one trailing
    # (last, NULL) row the token-filter drops) — the lm_score_bigram
    # lag construction, reused here so train and score agree. Native
    # zip, stays in codegen (zip_with lambdas evaluate interpreted —
    # measured ~25% on the pair stage at sf0.1).
    tk = _fan(ref_df.select(F.col(text_col))).select(
        _lm_tokens(F.col(text_col)).alias("tk")
    )
    lagged = F.arrays_zip(
        F.concat(F.array(F.lit(None).cast("string")), F.col("tk")).alias("p"),
        F.col("tk").alias("t"),
    )
    rows = (
        tk.select(F.explode(lagged).alias("bg"))
        .select(F.col("bg.p").alias("prev"), F.col("bg.t").alias("token"))
        .filter(F.col("token").isNotNull() & (F.col("token") != ""))
    )
    census = rows.groupBy("prev", "token").agg(F.count("*").alias("c"))
    # unigram counts = prev-marginal of the census: c(t) = Σ_prev c(prev, t)
    # (every token position contributes exactly one census row).
    uni_top = (
        census.groupBy("token")
        .agg(F.sum("c").alias("c"))
        .orderBy(F.col("c").desc(), "token")
        .limit(vocab_size)
        .select(F.lit("u").alias("kind"), F.lit(None).cast("string").alias("prev"), "token", "c")
    )
    bi_top = (
        census.filter(F.col("prev").isNotNull() & (F.col("prev") != ""))
        .orderBy(F.col("c").desc(), "prev", "token")
        .limit(max_bigrams)
        .select(F.lit("b").alias("kind"), "prev", "token", "c")
    )
    fetched = uni_top.unionAll(bi_top).collect()  # ONE bounded driver fetch
    # Rebuild unigram_lm's model exactly (same counts -> same floats):
    # n/v/denom over the kept vocabulary only, count-then-token order.
    count_rows = sorted(
        ((r["token"], int(r["c"])) for r in fetched if r["kind"] == "u"),
        key=lambda kv: (-kv[1], kv[0]),
    )
    n = sum(c for _, c in count_rows)
    v = len(count_rows)
    denom = n + alpha * (v + 1)
    oov_logprob = math.log(alpha / denom)
    uni = local_frame(
        ref_df.sparkSession,
        [(t, math.log((c + alpha) / denom), oov_logprob) for t, c in count_rows],
        "token string, logprob double, oov_logprob double",
    )
    vocab = {t for t, _ in count_rows}
    bigram_rows = sorted(
        ((r["prev"], r["token"], int(r["c"])) for r in fetched if r["kind"] == "b"),
        key=lambda kv: (-kv[2], kv[0], kv[1]),
    )
    prev_totals: dict[str, int] = {}
    kept = []
    for p, t, c in bigram_rows:
        if p in vocab and t in vocab:
            kept.append((p, t, c))
    # context totals from the SAME truncated table (the cutoff is part
    # of the model, like the vocab cutoff): c(v) = Σ_w c(v, w) over
    # kept bigrams, so scores stay ≤ 1 and deterministic.
    for p, _t, c in kept:
        prev_totals[p] = prev_totals.get(p, 0) + c
    bi_model = [
        (p, t, math.log(c / prev_totals[p])) for p, t, c in kept
    ]
    spark = ref_df.sparkSession
    bi = local_frame(spark, bi_model, "prev string, token string, logscore double")
    return uni, bi


def lm_score_bigram(
    df: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    backoff: float = 0.4,
) -> DataFrame:
    """Per-document mean log Stupid-Backoff score under a
    :func:`bigram_lm` model.

    Each token after the first scores ln S(w|v): the bigram table hit,
    else ln(backoff) + unigram logprob (OOV folds into the unigram
    model's OOV class). The document's FIRST token scores by unigram
    alone (no context). Documents with zero tokens yield no row.

    Plan: one explode to (prev, token) rows (prev NULL for the first
    token) → TWO broadcast joins (bigram table on (prev, token),
    unigram on token) → coalesce → one groupBy on the doc id. One
    corpus scan, one shuffle, zero Python — the model tables broadcast
    (bounded by construction)."""
    toks = _lm_tokens(F.col(text_col))
    # arrays_zip pads the shorter side with NULL, so zipping
    # (NULL ++ toks) against toks gives exactly the (prev, token)
    # lag pairs plus one trailing (last, NULL) row filtered below —
    # native zip, stays in codegen (see bigram_lm note).
    lagged = F.arrays_zip(
        F.concat(F.array(F.lit(None).cast("string")), toks), toks
    )
    rows = (
        _fan(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(lagged).alias("bg"))
        .select(
            F.col(id_col),
            F.col("bg.0").alias("prev"),
            F.col("bg.1").alias("token"),
        )
        .filter(F.col("token").isNotNull() & (F.col("token") != ""))
        .withColumn(
            "prev", F.when(F.col("prev") == "", None).otherwise(F.col("prev"))
        )
    )
    joined = rows.join(
        F.broadcast(bi.select("prev", "token", "logscore")), ["prev", "token"], "left"
    ).join(F.broadcast(uni.select("token", "logprob")), "token", "left")
    oov_row = uni.agg(F.first("oov_logprob", ignorenulls=True).alias("__oov"))
    ln_backoff = math.log(backoff)
    scored = joined.join(F.broadcast(oov_row)).select(
        F.col(id_col),
        F.coalesce(
            F.col("logscore"),
            # first token (prev NULL): pure unigram, no backoff penalty
            F.when(
                F.col("prev").isNull(),
                F.coalesce(F.col("logprob"), F.col("__oov")),
            ).otherwise(
                F.lit(ln_backoff) + F.coalesce(F.col("logprob"), F.col("__oov"))
            ),
        ).alias("lp"),
    )
    return (
        scored.groupBy(id_col)
        .agg(F.count("*").alias("n_tokens"), F.avg("lp").alias("mean_logscore"))
        .select(
            id_col,
            "n_tokens",
            "mean_logscore",
            F.exp(-F.col("mean_logscore")).alias("pseudo_perplexity"),
        )
    )


def perplexity_buckets(
    scored: DataFrame,
    n_buckets: int = 3,
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    relative_error: float = 0.001,
) -> DataFrame:
    """Assign CCNet-style quantile buckets on ``perplexity`` (lower =
    closer to the reference distribution = ``head``). Thresholds come
    from ``approxQuantile`` (driver receives n_buckets−1 floats; the
    error knob trades a second pass for precision); assignment is a
    codegen'd CASE chain — no global sort. ``labels`` must have
    ``n_buckets`` entries."""
    if len(labels) != n_buckets:
        raise ValueError(f"need {n_buckets} labels, got {len(labels)}")
    # The threshold probe (approxQuantile — an ACTION) and every
    # downstream consumer would otherwise EACH recompute the scored
    # lineage, which for lm_score outputs is a corpus-wide explode +
    # model join. Materialize once (executor-local, lazy: the probe
    # triggers it, the bucket pass replays it); what lands on disk is
    # three narrow columns per document, not the corpus. Measured at
    # sf0.1: bigram-LM bucket pipeline 4.1 s → one shared compute.
    scored = scored.localCheckpoint(eager=False)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = scored.approxQuantile("perplexity", qs, relative_error)
    expr = F.lit(labels[-1])
    for cut, label in zip(reversed(cuts), reversed(labels[:-1])):
        expr = F.when(F.col("perplexity") <= cut, F.lit(label)).otherwise(expr)
    return scored.withColumn("bucket", expr)
