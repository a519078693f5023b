"""Model-based language identification — the TRAINED tier of the
curation chain's first gate.

Every real pipeline runs language ID before anything else; the
heuristic tier (``functions/text.langid_scores`` — stopword/charset
rules, q_x3) is cheap but brittle, and production systems put a
trained classifier behind it (fastText lid.176, langid.py). This
module provides that tier twice, mirroring the quality-classifier
split in ``operators/classifier.py``:

- :func:`train_langid` / :func:`langid_scores`: multinomial Naive
  Bayes over character n-grams with an EXPLICIT, bounded,
  dyadic-quantized (gram, lang) -> weight table — the auditable,
  engine-portable "frozen linear scorer" deployment mode
  (classifier.linear_scores' contract, lifted to multiclass). NB over
  char n-grams is the classic model-based lang-ID (langid.py); its
  document score is LINEAR in gram counts, so the frozen table IS a
  linear model. Log-probabilities snap to the 2^-quant_bits dyadic
  grid (the q_ug1/unigram-tokenizer recipe, tokenizer.quantize_logprobs)
  and ship as INTEGER multiples of 2^-bits, so every document score is
  an exact integer sum — bit-identical across engines, summation
  orders, and partitionings, which is what lets a DuckDB oracle replay
  train AND score end-to-end (q_li1).
- :func:`train_langid_ml`: the hashed-char-ngram logistic tier —
  ``pyspark.ml`` HashingTF + multinomial LogisticRegression, the same
  machinery as ``classifier.train_quality_classifier`` with char
  n-grams in place of word features. Higher capacity, not
  oracle-replayable (murmur3 feature hashing has no DuckDB
  counterpart); accuracy is test-pinned on a crafted multi-language
  corpus.

Scale shape (100 TB): training aggregates gram counts with map-side
combine (bounded at |grams| x |langs| after the top-K cut); the model
is a dimension table (<= max_grams x n_langs + n_langs rows) collected
once, persisted as JSON, and broadcast for scoring. Scoring is one
corpus scan: explode grams -> broadcast hash join on the model ->
one groupBy(doc) partial-aggregated shuffle -> argmax window per doc.
No Python in either path.

Reference parity: the reference engine has no model stage (SURVEY
§2.4); this module is part of the mandated LLM-pipeline extension
surface, alongside operators/classifier.py.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from electrician_spark.io import local_frame


def char_ngrams(text: Column, n: int = 2) -> Column:
    """Character n-grams of lowercased text (spaces included — word
    boundaries carry language signal), as one Column expression.
    Empty / too-short text yields an empty array."""
    s = F.lower(text)
    cnt = F.length(s) - (n - 1)
    return F.when(
        cnt > 0,
        F.transform(
            F.sequence(F.lit(1), cnt), lambda i: F.substring(s, i, F.lit(n))
        ),
    ).otherwise(F.array().cast("array<string>"))


def _exploded_grams(
    df: DataFrame,
    keep_cols: list[str],
    text_col: str,
    n: int,
    keep_empty: bool = False,
):
    """(keep_cols..., gram) — one row per char n-gram position. Same
    grams as exploding :func:`char_ngrams`, but as explode(sequence)
    + a CODEGEN substring instead of an interpreted HOF array build:
    the corpus-scale hot path stays inside whole-stage codegen (the
    array form remains the Column-expression API for feature
    pipelines). NULL/short text yields no rows by default;
    ``keep_empty`` keeps ONE null-gram row per such document
    (explode_outer) so per-document aggregations downstream never
    lose documents."""
    # lower(text) is aliased in its OWN projection below the generator:
    # a computed expression in the same select as a generator lands
    # ABOVE the Generate and re-evaluates once per exploded gram row —
    # O(len) per gram = O(len²) per document. Splitting the projection
    # makes _s an attribute through the Generate: measured 2.66 s →
    # 1.47 s for the identical 1.48M-gram table at sf0.1 (the r13
    # q_ug1 hazard, same fix as _shingle_table's two projections).
    base = df.select(*keep_cols, F.lower(F.col(text_col)).alias("_s"))
    # Scale-adaptive fan-out before the explode (r16, the dsir lesson):
    # the gram explode + substring + model join is the pass's CPU and
    # otherwise runs on the SCAN's partitioning — a one-file corpus
    # (one split) serializes it on a single core. Size-estimate gated
    # so tiny inputs (where the extra exchange costs more than the
    # serial work) keep their exchange-free plan; no-op at 100 TB.
    # The gate sits LOWER than dsir's 1 MB because this path's
    # per-byte cost is far higher (one substring + model probe per
    # CHARACTER position, plus whatever the caller computes alongside):
    # measured at a 0.25 MB estimate, forcing the fan reads q_x9
    # 2.60 -> 1.56 s (-40%) and langid_scores at 16x 62.4 -> 6.7 s,
    # while a 1 MB gate left both serial.
    from electrician_spark.io import fan_out_small

    base = fan_out_small(base, min_bytes=128 << 10)
    cnt = F.length(F.col("_s")) - (n - 1)
    # guard: sequence(1, 0) would DESCEND ([1, 0]); null when out of
    # range and explode drops the row (also covers NULL text)
    gen = F.explode_outer if keep_empty else F.explode
    idx = gen(F.when(cnt > 0, F.sequence(F.lit(1), cnt)))
    return base.select(*keep_cols, "_s", idx.alias("_i")).select(
        *keep_cols, F.substring(F.col("_s"), F.col("_i"), F.lit(n)).alias("gram")
    )


@dataclass(frozen=True)
class LangIdModel:
    """Frozen multinomial-NB language model: explicit dyadic weight
    table. ``grams`` maps (gram, lang) -> integer log-prob in units of
    2^-quant_bits; ``priors`` maps lang -> integer log-prior in the
    same units. Bounded by construction: len(grams) <= k * n_langs."""

    n: int
    alpha: float
    quant_bits: int
    k: int
    grams: tuple[tuple[str, str, int], ...]
    priors: tuple[tuple[str, int], ...]


def train_langid(
    docs: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    n: int = 2,
    alpha: float = 0.5,
    max_grams: int = 300,
    quant_bits: int = 20,
) -> LangIdModel:
    """Train the frozen-NB language model on a labeled corpus.

    P(gram|lang) = (c + alpha) / (n_lang + alpha*K) over the K grams
    kept by global frequency (count desc, gram asc — deterministic);
    priors from document counts. Weights = floor(ln(p)*2^bits + 0.5)
    (floor+0.5, not round(): identical semantics in every engine — no
    half-even/half-up divergence). ``alpha`` should be dyadic (0.5,
    0.25, ...) so the ln argument is an exactly-representable
    rational on every engine.

    All heavy work is ONE distributed explode + aggregation pass with
    map-side combine (the bounded (gram, lang) count table is lazily
    checkpointed so the top-K cut and the grid completion replay it
    instead of re-scanning the corpus); the only driver
    materializations are the bounded count/census tables, with the
    ln/floor weight arithmetic done driver-side in C libm — the same
    library every SQL engine's ln uses, minimizing 1-ulp
    floor-boundary divergence risk in cross-engine replays."""
    import math

    q = float(1 << quant_bits)
    grams = _exploded_grams(
        docs.select(F.col(lang_col).alias("lang"), text_col), ["lang"], text_col, n
    )
    counts = grams.groupBy("gram", "lang").agg(F.count("*").alias("c"))
    counts = counts.localCheckpoint(eager=False)
    # Tie-break the top-K cut on the UTF-8 BYTE encoding, not Spark's
    # native string sort (UTF-16 code-unit order): DuckDB's ORDER BY is
    # binary UTF-8 (code-point) order, and a count tie at the max_grams
    # boundary involving supplementary-plane grams would otherwise
    # select a different vocabulary and diverge the whole q_li1 replay
    # (the suffix_array level-0 collation rule, applied here too).
    top = (
        counts.groupBy("gram")
        .agg(F.sum("c").alias("ct"))
        .orderBy(F.col("ct").desc(), F.encode("gram", "UTF-8"))
        .limit(max_grams)
        .select("gram")
    )
    # Bounded collects: the kept-gram count grid (<= max_grams x
    # n_langs rows) and the per-language document census.
    kept = {
        (r["gram"], r["lang"]): r["c"]
        for r in counts.join(F.broadcast(top), "gram").collect()
    }
    lang_rows = (
        docs.groupBy(F.col(lang_col).alias("lang"))
        .agg(F.count("*").alias("nd"))
        .collect()
    )
    if any(r["lang"] is None for r in lang_rows):
        raise ValueError(
            f"{lang_col!r} contains NULL labels — filter or impute the "
            f"training corpus before train_langid"
        )
    if len(lang_rows) < 2:
        raise ValueError(
            f"need >= 2 distinct languages to train, got "
            f"{[r['lang'] for r in lang_rows]} — a one-class model has no "
            f"decision to make (and no runner-up margin)"
        )
    langs = sorted(r["lang"] for r in lang_rows)
    top_grams = sorted({g for g, _ in kept})
    k = len(top_grams)
    n_l = {
        lang: sum(kept.get((g, lang), 0) for g in top_grams) for lang in langs
    }
    gram_rows = [
        (
            g,
            lang,
            math.floor(
                math.log(
                    (kept.get((g, lang), 0) + alpha) / (n_l[lang] + alpha * k)
                )
                * q
                + 0.5
            ),
        )
        for g in top_grams
        for lang in langs
    ]
    total = sum(r["nd"] for r in lang_rows)
    prior_rows = [
        (r["lang"], math.floor(math.log(r["nd"] / total) * q + 0.5))
        for r in lang_rows
    ]
    return LangIdModel(
        n=n,
        alpha=alpha,
        quant_bits=quant_bits,
        k=k,
        grams=tuple(sorted(gram_rows)),
        priors=tuple(sorted(prior_rows)),
    )


def langid_scores(
    docs: DataFrame,
    model: LangIdModel,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry: list[str] | None = None,
) -> DataFrame:
    """(id, lang_pred, score_u, margin_u): argmax language per
    document under the frozen model, with EXACT integer scores
    (units of 2^-quant_bits: score_u = prior + sum of in-model gram
    weights; out-of-model grams are skipped — the model's event space
    is its K kept grams). margin_u = top score minus runner-up: the
    confidence gate a curation pipeline thresholds on. Ties break to
    the lexicographically-first language — and because scores are
    exact integers, ties are identical on every engine.

    ONE corpus scan, ONE shuffle, no windows: the model pivots to a
    per-gram ARRAY of per-language weights (broadcast, no row
    amplification on the exploded stream), per-language scores are L
    conditional sums in a single map-side-combinable groupBy(doc), and
    argmax/margin are pure column expressions over the L score
    columns (priors fold in as literals). ``explode_outer`` keeps one
    null-gram row per gram-less document, so every document scores
    (prior-only) without the corpus x L completion join the window
    formulation needed.

    ``carry`` names extra per-document columns of ``docs`` to pass
    through into the output (aggregated with ``min`` inside the SAME
    groupBy — constant per document, so min is the identity). This is
    what lets a curation pipeline gate on the trained scores without
    re-joining the corpus to the score table: quality signals computed
    column-wise upstream ride the one scoring shuffle for free."""
    spark = docs.sparkSession
    langs = [lang for lang, _ in model.priors]  # sorted by construction
    pos = {lang: i for i, lang in enumerate(langs)}
    _validate_grid(model)
    lp_by_gram: dict[str, list[int]] = {}
    for gram, lang, lp in model.grams:
        lp_by_gram.setdefault(gram, [0] * len(langs))[pos[lang]] = lp
    mdf = local_frame(spark, sorted(lp_by_gram.items()), "gram string, lps array<long>")
    carry = list(carry or [])
    # reserved: the exploded gram + internal aliases (_s/_i from
    # _exploded_grams, lps from the broadcast model, _s{i}/_sc{i} sum
    # and score aliases) + the output columns — a carried name hitting
    # any of these would surface as an opaque AMBIGUOUS_REFERENCE deep
    # in the plan instead of this actionable error.
    reserved = {"gram", "lps", "lang_pred", "score_u", "margin_u", id_col, text_col}
    clash = sorted(
        c
        for c in set(carry)
        if c in reserved or c.startswith(("_s", "_i"))
    )
    if clash:
        raise ValueError(
            f"carry columns collide with scoring columns: {clash} — rename "
            f"them upstream (reserved: gram/lps, the output columns, and "
            f"'_s'/'_i'-prefixed internals)"
        )
    g = _exploded_grams(
        docs.select(id_col, *carry, text_col),
        [id_col, *carry],
        text_col,
        model.n,
        keep_empty=True,
    )
    sums = (
        g.join(F.broadcast(mdf), "gram", "left")
        .groupBy(id_col)
        .agg(
            *[
                F.sum(F.coalesce(F.col("lps")[i], F.lit(0))).alias(f"_s{i}")
                for i in range(len(langs))
            ],
            *[F.min(c).alias(c) for c in carry],
        )
    )
    priors = dict(model.priors)
    scores = [
        (F.col(f"_s{i}") + F.lit(priors[lang])).alias(f"_sc{i}")
        for i, lang in enumerate(langs)
    ]
    scored = sums.select(id_col, *carry, *scores)
    arr = F.array(*[F.col(f"_sc{i}") for i in range(len(langs))])
    best = F.array_max(arr)
    # argmax with the (score desc, lang asc) tie-break: langs iterate
    # in ascending order, first hit of the max wins
    pred = F.when(F.col("_sc0") == best, langs[0])
    for i in range(1, len(langs)):
        pred = pred.when(F.col(f"_sc{i}") == best, langs[i])
    runner_up = F.element_at(F.array_sort(arr), -2)
    return scored.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        pred.alias("lang_pred"),
        best.alias("score_u"),
        (best - runner_up).alias("margin_u"),
    )


def langid_gate(
    docs: DataFrame,
    model: LangIdModel,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_margin_u: int = 0,
    carry: list[str] | None = None,
) -> DataFrame:
    """The TRAINED confidence gate for a curation pipeline: score
    every document under the frozen model and keep only those whose
    top-vs-runner-up margin is at least ``min_margin_u`` (units of
    2^-quant_bits — exact integers, so the gate is bit-identical on
    every engine). Returns (id, carry..., lang_pred, score_u,
    margin_u) for the surviving documents.

    This is the swap-in replacement for the heuristic
    ``functions/text.language_id`` gate (which remains the
    zero-dependency default): compute quality signals column-wise
    upstream, name them in ``carry``, and the whole gated pipeline
    costs ONE broadcast model join + ONE map-side-combinable shuffle —
    no corpus-to-scores re-join, no second corpus scan."""
    scored = langid_scores(docs, model, text_col, id_col, carry=carry)
    return scored.filter(F.col("margin_u") >= int(min_margin_u))


def _validate_grid(model: LangIdModel) -> None:
    """Reject a model whose (gram, lang) table is not the COMPLETE
    k x n_langs grid. The scoring pivot defaults a missing entry to
    weight 0 — log-prob 0, probability 1 — which is safe only because
    :func:`train_langid` always emits the full grid; a truncated or
    hand-edited JSON artifact would otherwise silently INFLATE scores
    for the languages whose entries were dropped instead of erroring."""
    langs = {lang for lang, _ in model.priors}
    grams = {g for g, _, _ in model.grams}
    if len(model.grams) != len(grams) * len(langs) or {
        (g, lang) for g, lang, _ in model.grams
    } != {(g, lang) for g in grams for lang in langs}:
        raise ValueError(
            f"LangIdModel grid is incomplete: {len(model.grams)} (gram, lang) "
            f"entries for {len(grams)} grams x {len(langs)} languages — "
            f"expected the full {len(grams) * len(langs)}-entry grid (a "
            f"missing entry would silently score as log-prob 0)"
        )
    if model.k != len(grams):
        raise ValueError(
            f"LangIdModel.k = {model.k} disagrees with the gram table "
            f"({len(grams)} distinct grams)"
        )


def save_langid(model: LangIdModel, path: str) -> None:
    """Persist the frozen model as a JSON artifact — the auditable,
    engine-portable shipping form (the point of the explicit table)."""
    with open(path, "w") as fh:
        json.dump(
            {
                "n": model.n,
                "alpha": model.alpha,
                "quant_bits": model.quant_bits,
                "k": model.k,
                "grams": [list(g) for g in model.grams],
                "priors": [list(p) for p in model.priors],
            },
            fh,
        )


def load_langid(path: str) -> LangIdModel:
    """Load a :func:`save_langid` artifact, validating grid
    completeness (see :func:`_validate_grid`) so a truncated or
    hand-edited file errors at load time, not as silently-wrong
    scores."""
    with open(path) as fh:
        d = json.load(fh)
    model = LangIdModel(
        n=d["n"],
        alpha=d["alpha"],
        quant_bits=d["quant_bits"],
        k=d["k"],
        grams=tuple((g[0], g[1], int(g[2])) for g in d["grams"]),
        priors=tuple((p[0], int(p[1])) for p in d["priors"]),
    )
    _validate_grid(model)
    return model


def train_langid_ml(
    labeled: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    n: int = 3,
    hash_bits: int = 18,
    max_iter: int = 50,
    reg_param: float = 1e-4,
):
    """The hashed-ngram logistic tier: HashingTF over char n-grams +
    multinomial LogisticRegression — classifier.train_quality_classifier's
    machinery with char features and a multiclass head (fastText-style
    capacity; murmur3 hashing means no vocabulary to build or
    broadcast). Returns a fitted PipelineModel whose ``prediction``
    column indexes ``labels`` (the StringIndexer order). Not
    oracle-replayable (no murmur3 in SQL engines); accuracy is
    test-pinned. Persist with model.write().overwrite().save(path)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, StringIndexer

    if not 8 <= hash_bits <= 24:
        raise ValueError(f"hash_bits must be in [8, 24], got {hash_bits}")
    # The label indexer is fit-time-only (scoring inputs carry no
    # language column), so it lives OUTSIDE the inference pipeline.
    idx = StringIndexer(
        inputCol=lang_col, outputCol="_label", stringOrderType="alphabetAsc"
    ).fit(labeled)
    feat = idx.transform(labeled).withColumn(
        "_ftoks", char_ngrams(F.col(text_col), n)
    )
    pipe = Pipeline(
        stages=[
            HashingTF(
                inputCol="_ftoks", outputCol="features", numFeatures=1 << hash_bits
            ),
            LogisticRegression(
                featuresCol="features",
                labelCol="_label",
                maxIter=max_iter,
                regParam=reg_param,
                family="multinomial",
            ),
        ]
    )
    return MlLangIdModel(
        pipeline=pipe.fit(feat), labels=tuple(idx.labels), n=n
    )


@dataclass(frozen=True)
class MlLangIdModel:
    """Fitted hashed-logistic lang-ID: inference pipeline + the label
    order the prediction indexes + the char n-gram width used at fit."""

    pipeline: object
    labels: tuple[str, ...]
    n: int


def langid_ml_scores(
    df: DataFrame,
    model: MlLangIdModel,
    text_col: str = "text",
    out_col: str = "lang_pred",
) -> DataFrame:
    """Append ``out_col``: the predicted language string under a
    :func:`train_langid_ml` model (broadcast model, one scan)."""
    feat = df.withColumn("_ftoks", char_ngrams(F.col(text_col), model.n))
    scored = model.pipeline.transform(feat)
    lab = F.array(*[F.lit(x) for x in model.labels])
    return scored.withColumn(
        out_col, F.element_at(lab, F.col("prediction").cast("int") + 1)
    ).drop("_ftoks", "features", "rawPrediction", "probability", "prediction")
