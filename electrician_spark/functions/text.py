"""Text-analysis function pack for large-scale training-data pipelines.

All hot-path functions are built-in Column expressions (JVM-side,
whole-stage codegen) — no Python UDFs. Shingling uses
``transform(sequence(...))`` over the token array, so it scales
linearly with document length and never leaves the executor.

Capabilities: tokenization/token counting, quality scoring
(length/stopword/alpha ratios), n-gram shingling, deterministic
document fingerprinting, and a heuristic stopword-based language ID.
The reference's text ops are keyword containment + tagging
(/root/reference/example/conduit_example/chain/main.go:21-59);
everything beyond that is the mandated LLM-pipeline extension.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# Tiny per-language stopword profiles for the heuristic language ID.
# Real deployments plug in fastText/CLD3 via a pandas UDF; the heuristic
# keeps the engine dependency-free and deterministic.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("的", "是", "了", "在", "我"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (collapses runs; trims ends)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def avg_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total / F.size(toks)


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = DEFAULT_STOPWORDS) -> Column:
    toks = tokens(text)
    stops = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return stops / F.size(toks)


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (deduplicated) from an already-computed
    token array column. Prefer this in hot paths: materialize the token
    array in its own projection first, so ``toks`` is an attribute
    reference — every ``element_at`` below re-evaluates ``toks``, and
    re-running ``split()`` per gram element is O(len²) per document."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]),
    )
    # sequence(1, x) runs DESCENDING for x < 1 — guard short docs to an
    # empty shingle set instead.
    return F.when(F.size(toks) >= n, F.array_distinct(gram)).otherwise(
        F.array().cast("array<string>")
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (deduplicated), one expression.

    Binds the token array once as a lambda variable (transform over a
    one-element array) so ``split`` runs once per row, not once per
    gram element. For the hottest paths, pre-project the token array
    and use :func:`shingles_from_tokens` instead (lambda-variable
    evaluation is interpreted, ~3× slower than a codegen'd attribute)."""
    bound = F.transform(F.array(tokens(text)), lambda tk: shingles_from_tokens(tk, n))
    return F.element_at(bound, 1)


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 over the
    whitespace-normalized, lower-cased text (reference analog: sha256
    element hash, types/element.go:29-37)."""
    normalized = F.lower(F.concat_ws(" ", tokens(text)))
    return F.md5(normalized)


def language_scores(text: Column) -> Column:
    """Map of lang → matched-stopword count (the n-gram/stopword
    heuristic). Deterministic; ties broken by lang code order in
    :func:`language_id`."""
    toks = tokens(F.lower(text))
    return F.map_from_arrays(
        F.array(*[F.lit(lang) for lang in sorted(LANG_PROFILES)]),
        F.array(
            *[
                F.size(F.filter(toks, lambda t: t.isin(*LANG_PROFILES[lang])))
                for lang in sorted(LANG_PROFILES)
            ]
        ),
    )


def language_id(text: Column, default: str = "en") -> Column:
    """Argmax over language_scores with deterministic tie-break
    (first lang code in sorted order wins; all-zero → default)."""
    toks = tokens(F.lower(text))

    def _score(lang: str) -> Column:
        words = LANG_PROFILES[lang]
        # NB: the filter lambda must take exactly one arg — PySpark treats
        # a second parameter as the element index.
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scores = [(lang, _score(lang)) for lang in sorted(LANG_PROFILES)]
    best_score = F.greatest(*[s for _, s in scores])
    expr = F.lit(default)
    # Build reversed so earlier langs take precedence on ties.
    for lang, score in reversed(scores):
        expr = F.when((score == best_score) & (best_score > 0), F.lit(lang)).otherwise(expr)
    return expr


# Redaction patterns share Java-regex / RE2 syntax (char classes,
# bounded repeats only — no lookaround), so a SQL oracle replays them.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_NUMBER_PATTERN = r"[0-9]{9,}"


def redact_pii(
    text: Column,
    email_token: str = "<EMAIL>",
    number_token: str = "<NUM>",
) -> Column:
    """Scrub obvious PII shapes from a text column: email addresses,
    then 9+-digit runs (phone/SSN/account-shaped). Pure
    ``regexp_replace`` chain — JVM-side, codegen, no UDF; the pattern
    subset is dialect-portable so the same regexes run in any SQL
    oracle. Deliberately shape-based (a recall-first pre-filter for
    training corpora), not an NER system — plug a model-based scrubber
    in as a pandas UDF stage where precision matters."""
    scrubbed = F.regexp_replace(text, EMAIL_PATTERN, email_token)
    return F.regexp_replace(scrubbed, LONG_NUMBER_PATTERN, number_token)


# RE2-portable PII shapes (no lookarounds/backrefs — the same pattern
# text runs in Java regex and the DuckDB oracle byte-for-byte)
IPV4_PATTERN = (
    r"\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
    r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b"
)
# candidate card runs: 13-19 digits with optional single space/dash
# separators; Luhn decides which candidates actually redact
CARD_CANDIDATE_PATTERN = r"\b(\d(?:[ -]?\d){12,18})\b"


def luhn_valid(candidate: Column) -> Column:
    """Luhn checksum over a digit run (separators stripped): reversed
    digits, every second one doubled with 9-subtraction, sum % 10 == 0
    — the precision lever that separates real card numbers from
    arbitrary digit runs. Pure integer Column arithmetic (exact,
    engine-portable); length gated to the 13–19 card range."""
    digits = F.regexp_extract_all(
        F.regexp_replace(candidate, r"[ -]", ""), F.lit(r"(\d)"), 1
    )
    n = F.size(digits)
    rev = F.reverse(digits)
    def step(d: Column, i: Column) -> Column:
        d2 = d.cast("int") * 2
        doubled = F.when(d2 > 9, d2 - 9).otherwise(d2)
        return F.when(i % 2 == 1, doubled).otherwise(d.cast("int"))

    total = F.aggregate(
        F.zip_with(rev, F.sequence(F.lit(0), n - 1), step),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (n >= 13) & (n <= 19) & (total % 10 == 0)


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-class PII shape counts — the census a redaction policy
    audits before scrubbing: emails, IPv4 addresses, Luhn-VERIFIED
    card-shaped runs, and 9+-digit runs. Counts are codegen
    regexp_count except cards (one extract + an integer HOF per
    candidate — candidates are rare, so the interpreted fold is off
    the hot path). Counts are independent per-class shape counts over
    the RAW text — classes overlap by design (a card number is also a
    13+-digit run), so the census shows every lens that would fire."""
    cands = F.regexp_extract_all(text, F.lit(CARD_CANDIDATE_PATTERN), 1)
    return {
        "n_emails": F.coalesce(F.regexp_count(text, F.lit(EMAIL_PATTERN)), F.lit(0)),
        "n_ipv4": F.coalesce(F.regexp_count(text, F.lit(IPV4_PATTERN)), F.lit(0)),
        "n_cards": F.coalesce(F.size(F.filter(cands, luhn_valid)), F.lit(0)),
        "n_long_numbers": F.coalesce(
            F.regexp_count(text, F.lit(LONG_NUMBER_PATTERN)), F.lit(0)
        ),
    }


def redact_pii_extended(
    text: Column,
    email_token: str = "<EMAIL>",
    ip_token: str = "<IP>",
    card_token: str = "<CARD>",
    number_token: str = "<NUM>",
) -> Column:
    """:func:`redact_pii` plus IPv4 addresses and Luhn-verified card
    numbers. Order matters: emails → IPs → verified cards (an exact
    substring fold over the rare candidate list) → the generic
    9+-digit sweep. Card-shaped candidates that FAIL Luhn are still
    account-shaped digit runs, so they fall to ``number_token``
    (recall-first — this also catches separator-carrying runs the
    contiguous 9+-digit sweep can't see), while verified cards get the
    typed token (precision). Every stage is engine-portable;
    NULL → NULL."""
    scrubbed = F.regexp_replace(text, EMAIL_PATTERN, email_token)
    scrubbed = F.regexp_replace(scrubbed, IPV4_PATTERN, ip_token)
    cands = F.regexp_extract_all(scrubbed, F.lit(CARD_CANDIDATE_PATTERN), 1)

    # Rewrite each candidate boundary-anchored (the same \b…\b the
    # extraction used) — a plain substring replace would also mangle
    # the candidate's digit string where it occurs INSIDE a longer run
    # elsewhere in the document. Candidates match [\d -]+ only, so the
    # only regex metacharacter possible is none; still anchor, don't
    # trust: the pattern is built per-candidate.
    def bounded(c: Column) -> Column:
        return F.concat(F.lit(r"\b"), c, F.lit(r"\b"))

    scrubbed = F.aggregate(
        F.filter(cands, luhn_valid),
        scrubbed,
        lambda acc, c: F.regexp_replace(acc, bounded(c), F.lit(card_token)),
    )
    scrubbed = F.aggregate(
        F.filter(cands, lambda c: ~luhn_valid(c)),
        scrubbed,
        lambda acc, c: F.regexp_replace(acc, bounded(c), F.lit(number_token)),
    )
    return F.regexp_replace(scrubbed, LONG_NUMBER_PATTERN, number_token)


def token_repetition_stats(toks: Column) -> dict[str, Column]:
    """Gopher-style within-document repetition signals from a token
    array column (pre-project the array; see shingles_from_tokens):

    - ``dup_token_frac``: 1 − distinct/total tokens,
    - ``dup_bigram_frac``: 1 − distinct/total word bigrams

    Both are array expressions — per-row, no shuffle, no UDF. The
    heaviest-token share (``top_token_frac``) needs a per-token count
    and is computed relationally in queries (explode → groupBy keeps
    it codegen'd; an aggregate() HOF would run interpreted)."""
    n = F.size(toks)
    n_bi = F.greatest(n - 1, F.lit(0))
    # shingles_from_tokens already dedupes; raw bigram count is n-1.
    distinct_bi = F.size(shingles_from_tokens(toks, 2))
    return {
        "dup_token_frac": F.when(
            n > 0, 1.0 - F.size(F.array_distinct(toks)) / n
        ).otherwise(F.lit(0.0)),
        "dup_bigram_frac": F.when(n_bi > 0, 1.0 - distinct_bi / n_bi).otherwise(
            F.lit(0.0)
        ),
    }


# BPE-style pre-tokenization (the GPT-2 pattern family), simplified to
# a lookahead-free regex so the same pattern runs in Java regex (Spark)
# and RE2 (DuckDB oracle) byte-for-byte: contractions, space-prefixed
# letter runs, space-prefixed digit runs, space-prefixed punctuation
# runs, residual whitespace. Token COUNTS from this pre-tokenizer track
# real BPE token counts closely enough for length-budget filtering and
# packing (true BPE merges only split within these pieces).
BPE_PRETOKEN_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def bpe_pretokens(text: Column) -> Column:
    """Array of BPE-ish pre-tokens (whitespace runs dropped)."""
    pieces = F.regexp_extract_all(text, F.lit(f"({BPE_PRETOKEN_PATTERN})"), 1)
    return F.filter(pieces, lambda p: ~p.rlike(r"^\s+$"))


def bpe_token_count(text: Column) -> Column:
    """Pre-token count — the scale proxy for tokenizer length budgets
    (sequence packing, max-length filters) that needs no vocab file."""
    return F.size(bpe_pretokens(text))


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Appendix A1.1) —
# the standard pre-training document filter battery. Pure codegen'd
# column expressions: one scan, no UDFs, no shuffle.
# ---------------------------------------------------------------------------

GOPHER_REQUIRED_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    text: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_avg_word_len: float = 3.0,
    max_avg_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_required_words: int = 2,
) -> Column:
    """Struct of the eight Gopher rule booleans plus the conjunction
    (`passes`). Thresholds default to the paper's; every rule is an
    independent field so pipelines can audit which gate rejected a
    document. Rule set:

    - word count in [min_words, max_words]
    - mean word length in [min_avg_word_len, max_avg_word_len]
    - (# of '#' or '…'/'...') / words ≤ max_symbol_ratio
    - < max_bullet_ratio of lines start with a bullet
    - ≤ max_ellipsis_ratio of lines end with an ellipsis
    - ≥ min_alpha_word_ratio of words contain an alphabetic char
    - ≥ min_required_words distinct members of the required-word set
      (the, be, to, of, and, that, have, with)
    """
    toks = tokens(text)
    n_words = F.size(toks)
    avg_len = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / n_words
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    ell_unicode = F.length(text) - F.length(F.replace(text, F.lit("…"), F.lit("")))
    ell_ascii = F.size(F.split(text, r"\.\.\.", -1)) - 1
    n_symbols = n_hash + ell_unicode + ell_ascii
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"^([-*•▪◼]|\d+[.)])\s"))
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"))
    )
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    required_hits = F.size(
        F.array_intersect(
            F.transform(toks, F.lower),
            F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS]),
        )
    )
    flags = {
        "word_count_ok": (n_words >= min_words) & (n_words <= max_words),
        "avg_word_len_ok": (avg_len >= min_avg_word_len) & (avg_len <= max_avg_word_len),
        "symbol_ratio_ok": (n_symbols / n_words) <= max_symbol_ratio,
        "bullet_ratio_ok": (bullet_lines / n_lines) < max_bullet_ratio,
        "ellipsis_ratio_ok": (ellipsis_lines / n_lines) <= max_ellipsis_ratio,
        "alpha_word_ratio_ok": (alpha_words / n_words) >= min_alpha_word_ratio,
        "required_words_ok": required_hits >= min_required_words,
    }
    passes = None
    for c in flags.values():
        passes = c if passes is None else (passes & c)
    return F.struct(
        *[v.alias(k) for k, v in flags.items()], passes.alias("passes")
    )


def gopher_filter(df, text_col: str = "text", **thresholds):
    """Keep only documents passing every Gopher rule (see
    :func:`gopher_quality_flags`). One codegen'd scan; the struct never
    materializes for dropped rows."""
    return df.filter(gopher_quality_flags(F.col(text_col), **thresholds)["passes"])


GOPHER_TOP_NGRAM_LIMITS = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_LIMITS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def _run_chars_sql(arr_sql: str, stat: str) -> str:
    """SQL for a row-local run-length walk over a unit array:
    ``stat='dup'`` → characters covered by units occurring ≥ 2×
    (count × length, occurrences double-counted); ``stat='top'`` →
    characters covered by the single most frequent unit.

    ``array_sort`` + ONE ``aggregate`` pass, entirely inside the row:
    equal units are adjacent after the sort, so a linear walk with a
    ``(prev, run, acc)`` accumulator recovers every per-unit count
    without a groupBy. No explode, no shuffle — the signals are
    per-document, so nothing ever leaves the row.

    Emitted as a SQL string (parsed JVM-side in one call) rather than
    a Column lambda tree: building the same expression through the
    pyspark functions API costs ~80 py4j round-trips per walk, which
    at 11 walks added ~4 s of driver-side plan-construction latency
    to every query that touches the battery.
    """
    # chars covered by the run being closed; NULL-safe: run >= 2 (dup)
    # implies prev IS NOT NULL, and greatest() skips NULLs (top).
    run_chars = "acc.run * CAST(length(acc.prev) AS BIGINT)"
    if stat == "dup":
        close = f"acc.dup + IF(acc.run >= 2, {run_chars}, 0L)"
        init = "0L AS dup"
        keep, start = "acc.dup AS dup", f"{close} AS dup"
    else:
        close = f"greatest(acc.top, {run_chars})"
        init = "0L AS top"
        keep, start = "acc.top AS top", f"{close} AS top"
    return f"""aggregate(
      array_sort({arr_sql}),
      struct(CAST(NULL AS STRING) AS prev, 0L AS run, {init}),
      (acc, x) -> IF(acc.prev IS NOT NULL AND x = acc.prev,
                     struct(x AS prev, acc.run + 1L AS run, {keep}),
                     struct(x AS prev, 1L AS run, {start})),
      acc -> {close}
    )"""


def _ngrams_sql(toks_sql: str, n: int) -> str:
    """SQL for ALL word n-grams over a staged token-array column
    (duplicates kept — repetition counting needs multiplicity)."""
    parts = ", ".join(
        f"element_at({toks_sql}, CAST(i + {j} AS INT))" for j in range(n)
    )
    return (
        f"IF(size({toks_sql}) >= {n}, "
        f"transform(sequence(1, size({toks_sql}) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})), "
        f"CAST(array() AS ARRAY<STRING>))"
    )


def gopher_repetition_fracs(
    df, id_col: str = "doc_id", text_col: str = "text"
):
    """Per-document Gopher repetition signals (Rae et al. 2021 A1.1,
    the repetition-removal half of the battery):

    - ``dup_line_frac`` / ``dup_para_frac``: 1 − distinct/total lines
      (paragraphs = blank-line-separated blocks)
    - ``dup_line_char_frac`` / ``dup_para_char_frac``: characters in
      segments occurring ≥ 2× / total characters
    - ``top_{2,3,4}gram_char_frac``: characters covered by the single
      most frequent n-gram (count × gram length, space-joined)
    - ``dup_{5..10}gram_char_frac``: characters covered by all n-grams
      occurring ≥ 2× (occurrences double-count overlaps — the standard
      formulation)

    Every signal is a function of ONE document, so the whole battery
    is computed row-locally (:func:`_run_chars_sql`: per-kind
    ``array_sort`` + one ``aggregate`` run-length walk) in a single
    narrow projection — ONE corpus scan, ZERO shuffles, no UDFs.
    At cluster scale this is embarrassingly parallel: no exchange
    exists to skew, and cost is linear in corpus bytes. (An earlier
    revision exploded every unit through a groupBy→pivot — correct,
    but it shuffled ~9× the token count per document for what is a
    per-row computation.)

    Returns an (id, 13 fracs) table with one row per input row;
    documents with no units get 0.0 fracs.
    """
    return _with_repetition_fracs(
        df.select(F.col(_quoted(id_col)), F.col(_quoted(text_col))), id_col, text_col
    ).drop(text_col)


def gopher_repetition_stats(
    df, id_col: str = "doc_id", text_col: str = "text"
):
    """Input rows + the 13 Gopher repetition signal columns (see
    :func:`gopher_repetition_fracs` for the signal definitions and the
    row-local zero-shuffle plan). The fracs are per-row expressions, so
    this is a plain projection — no join; empty documents get 0.0."""
    return _with_repetition_fracs(df, id_col, text_col)


def _quoted(name: str) -> str:
    """``name`` as one backtick-quoted identifier, so dots, spaces and
    backticks in it are part of the name, not SQL syntax."""
    return "`" + name.replace("`", "``") + "`"


def _with_repetition_fracs(df, id_col: str, text_col: str):
    """df + the 13 frac columns as inline row-local SQL expressions.

    The token / line / paragraph arrays are STAGED as real columns in
    a first projection and referenced by name from every signal —
    CollapseProject keeps multiply-referenced non-cheap producers in
    their own Project, so tokenization and splitting run once per row
    no matter how many walks consume them.
    """
    tc = _quoted(text_col)
    # Regex/escape literals stay in Column form (a handful of py4j
    # calls, once per call — not loop-shaped): as SQL strings their
    # backslash escapes silently re-parse under
    # spark.sql.parser.escapedStringLiterals=true and the signals
    # diverge with no error (the r15 ADVICE dedup.py:93 hazard).
    _nonblank = lambda x: F.trim(x) != F.lit("")  # noqa: E731
    base = df.withColumns(
        {
            "_gr_chars": F.expr(f"CAST(length({tc}) AS DOUBLE)"),
            "_gr_tk": F.split(F.trim(F.col(tc)), r"\s+"),
            "_gr_ln": F.filter(F.split(F.col(tc), "\n"), _nonblank),
            "_gr_pa": F.filter(F.split(F.col(tc), "\n{2,}"), _nonblank),
        }
    )

    def frac(num_sql: str, den_sql: str) -> Column:
        return F.expr(
            f"round(IF({den_sql} > 0, ({num_sql}) / {den_sql}, 0.0D), 6)"
        )

    out = {}
    for k, arr in (("line", "_gr_ln"), ("para", "_gr_pa")):
        out[f"dup_{k}_frac"] = frac(
            f"size({arr}) - size(array_distinct({arr}))", f"size({arr})"
        )
        out[f"dup_{k}_char_frac"] = frac(
            _run_chars_sql(arr, "dup"), "_gr_chars"
        )
    for n in GOPHER_TOP_NGRAM_LIMITS:
        out[f"top_{n}gram_char_frac"] = frac(
            _run_chars_sql(_ngrams_sql("_gr_tk", n), "top"), "_gr_chars"
        )
    for n in GOPHER_DUP_NGRAM_LIMITS:
        out[f"dup_{n}gram_char_frac"] = frac(
            _run_chars_sql(_ngrams_sql("_gr_tk", n), "dup"), "_gr_chars"
        )
    return base.withColumns(out).drop("_gr_chars", "_gr_tk", "_gr_ln", "_gr_pa")


def gopher_repetition_filter(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_line_frac: float = 0.30,
    max_dup_para_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_dup_para_char_frac: float = 0.20,
    top_limits: dict[int, float] | None = None,
    dup_limits: dict[int, float] | None = None,
):
    """Drop documents failing any Gopher repetition limit. Defaults are
    the paper's thresholds (dup line/para frac ≤ 0.30, dup line/para
    char frac ≤ 0.20, top/dup n-gram char fracs per
    GOPHER_TOP_NGRAM_LIMITS / GOPHER_DUP_NGRAM_LIMITS); the paper's
    limits presuppose its ≥50-word gate — short-document corpora need
    looser ``top_limits`` (a 10-word doc's single top 3-gram already
    covers >18% of its characters)."""
    stats = gopher_repetition_stats(df, id_col, text_col)
    cond = (
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("dup_para_frac") <= max_dup_para_frac)
        & (F.col("dup_line_char_frac") <= max_dup_line_char_frac)
        & (F.col("dup_para_char_frac") <= max_dup_para_char_frac)
    )
    for n, lim in (top_limits if top_limits is not None else GOPHER_TOP_NGRAM_LIMITS).items():
        cond = cond & (F.col(f"top_{n}gram_char_frac") <= lim)
    for n, lim in (dup_limits if dup_limits is not None else GOPHER_DUP_NGRAM_LIMITS).items():
        cond = cond & (F.col(f"dup_{n}gram_char_frac") <= lim)
    return stats.filter(cond).select([F.col(_quoted(c)) for c in df.columns])


# ---------------------------------------------------------------------------
# Corpus text normalization — the cleanup pass that runs before any
# dedup/quality stage so fingerprints and shingles see canonical bytes.
# Pure JVM regexp chain: one codegen'd scan, no Python, no shuffle.
# ---------------------------------------------------------------------------

# C0/C1 control characters except \t \n (DEL included); plus the
# zero-width family and BOM, which make visually-identical documents
# hash differently.
_CONTROL_CHARS = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F\\u200B-\\u200D\\u2060\\uFEFF]"
# Unicode space separators that should unify with ASCII space before
# tokenization (NBSP, en/em/thin spaces, ideographic space, …).
_UNICODE_SPACES = "[\\u00A0\\u1680\\u2000-\\u200A\\u202F\\u205F\\u3000]"


def normalize_text(
    text: Column,
    collapse_spaces: bool = True,
    max_consecutive_newlines: int = 2,
) -> Column:
    """Canonicalize a document string for downstream dedup/quality ops:

    - CRLF / CR → LF
    - control chars (C0/C1 minus tab+newline), zero-width chars, BOM → removed
    - unicode space separators → ASCII space
    - tabs → space, space runs → one space (``collapse_spaces``)
    - >``max_consecutive_newlines`` blank-line runs → capped (0 disables)
    - leading/trailing whitespace trimmed (incl. newlines)

    This is the regexp-expressible core of the usual NFKC+cleanup pass;
    full NFKC compatibility folding (ligatures, full-width forms) needs
    ``unicodedata`` and belongs in an Arrow-batched pandas UDF if a
    pipeline opts in — kept out of the default path so the hot path
    stays whole-stage-codegen."""
    out = F.regexp_replace(text, r"\r\n?", "\n")
    out = F.regexp_replace(out, _CONTROL_CHARS, "")
    out = F.regexp_replace(out, _UNICODE_SPACES, " ")
    if collapse_spaces:
        out = F.regexp_replace(out, "\t", " ")
        out = F.regexp_replace(out, " {2,}", " ")
        # Strip spaces hugging newlines so space-padded "blank" lines
        # (ubiquitous trailing whitespace in web text) collapse to bare
        # \n runs — otherwise they escape the newline-run cap below and
        # texts equal modulo trailing spaces normalize differently.
        out = F.regexp_replace(out, " *\n *", "\n")
    if max_consecutive_newlines:
        run = "\n" * max_consecutive_newlines
        out = F.regexp_replace(out, rf"\n{{{max_consecutive_newlines + 1},}}", run)
    # trim() strips ASCII space only — newline-adjacent edges need \s.
    return F.regexp_replace(out, r"^\s+|\s+$", "")


def token_frequency_table(
    df,
    text_col: str = "text",
    tokenizer: str = "bpe",
    min_count: int = 1,
    top_n: int | None = None,
):
    """Corpus token-frequency table — the input a BPE/unigram tokenizer
    trainer consumes. ``tokenizer="bpe"`` counts
    :data:`BPE_PRETOKEN_PATTERN` pieces (whitespace pieces dropped);
    ``"whitespace"`` counts plain tokens. Returns (token, count)
    descending, count-then-token ordered so the table is deterministic.

    One explode → one map-side-combinable groupBy: the shuffle carries
    one row per distinct token per partition, not the token stream.
    ``top_n`` applies a TakeOrderedAndProject (never a global sort);
    ``min_count`` prunes the long tail before it reaches the limit."""
    if tokenizer == "bpe":
        toks = F.filter(bpe_pretokens(F.col(text_col)), lambda t: ~t.rlike(r"^\s+$"))
    elif tokenizer == "whitespace":
        toks = tokens(F.col(text_col))
    else:
        raise ValueError(f"tokenizer must be 'bpe' or 'whitespace', got {tokenizer!r}")
    counts = (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("count"))
        .filter(F.col("count") >= min_count)
    )
    ordered = counts.orderBy(F.col("count").desc(), F.col("token"))
    return ordered.limit(top_n) if top_n is not None else ordered


# ---------------------------------------------------------------------------
# C4 cleaning battery (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning…" §2.2) — the line-and-page heuristics that built
# C4 from Common Crawl, the standard companion to the Gopher rules:
# line-level retention (terminal punctuation + minimum words), page
# gates (sentence count, code/boilerplate markers, caller-supplied
# blocklist). All pure Column expressions — one codegen'd scan, no
# UDFs, no shuffle.
# ---------------------------------------------------------------------------

# C4 keeps lines that end in a terminal punctuation mark (quote-closed
# sentences included).
_C4_TERMINAL = r'[.!?]["”’]?$'


def c4_line_filter(
    df,
    text_col: str = "text",
    min_words_per_line: int = 3,
) -> "DataFrame":
    """C4's LINE retention pass: keep only lines that end in terminal
    punctuation ('.', '!', '?', optionally followed by a closing
    quote) AND contain at least ``min_words_per_line`` words; the
    surviving lines are rejoined with newlines (documents whose every
    line is dropped come back empty — gate them with
    :func:`c4_page_flags`' ``min_sentences`` rule downstream).
    Replaces ``text_col`` in place; one codegen'd scan."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines,
        lambda l: F.rtrim(l).rlike(_C4_TERMINAL)
        & (F.size(F.filter(F.split(F.trim(l), r"\s+"), lambda t: t != ""))
           >= min_words_per_line),
    )
    return df.withColumn(text_col, F.array_join(kept, "\n"))


def c4_page_flags(
    text: Column,
    min_sentences: int = 3,
    max_words: int = 50_000,
    blocklist: tuple[str, ...] = (),
) -> Column:
    """Struct of the C4 PAGE-level gate booleans plus the conjunction
    (``passes``):

    - ``sentence_count_ok``: ≥ ``min_sentences`` sentences (terminal-
      punctuation splits — the C4 "at least 3 sentences" rule)
    - ``no_lorem_ipsum``: page does not contain "lorem ipsum"
      (placeholder-text marker, case-insensitive)
    - ``no_curly_brace``: page does not contain '{' (code marker)
    - ``no_javascript_line``: no line contains the word "javascript"
      (cookie/JS-warning boilerplate; C4 drops the LINE — the flag
      form lets pipelines choose line-drop via :func:`c4_line_filter`
      composition or page-drop via this gate)
    - ``word_count_ok``: ≤ ``max_words`` words (runaway-page guard)
    - ``no_blocklisted``: none of the caller-supplied ``blocklist``
      phrases occur (case-insensitive substring; C4 uses the public
      "List of Dirty, Naughty …" list — supply your deployment's)

    Every rule is an independent field for per-gate audits, same shape
    as :func:`gopher_quality_flags`."""
    low = F.lower(text)
    # sentence boundaries = terminal punctuation (optionally quote-
    # closed) followed by whitespace or end-of-text. regexp_count with
    # an RE2-compatible pattern (no lookbehind) so a SQL oracle can
    # replay the gate.
    n_sentences = F.regexp_count(text, F.lit(r'[.!?]["”’]?(\s+|$)'))
    n_words = F.size(tokens(text))
    no_js_line = ~F.exists(
        F.split(low, "\n"), lambda l: l.rlike(r"\bjavascript\b")
    )
    flags = {
        "sentence_count_ok": n_sentences >= min_sentences,
        "no_lorem_ipsum": ~low.contains("lorem ipsum"),
        "no_curly_brace": ~text.contains("{"),
        "no_javascript_line": no_js_line,
        "word_count_ok": n_words <= max_words,
    }
    blocked = None
    for phrase in blocklist:
        hit = low.contains(phrase.lower())
        blocked = hit if blocked is None else (blocked | hit)
    flags["no_blocklisted"] = F.lit(True) if blocked is None else ~blocked
    passes = None
    for c in flags.values():
        passes = c if passes is None else (passes & c)
    return F.struct(*[v.alias(k) for k, v in flags.items()], passes.alias("passes"))


def c4_filter(
    df,
    text_col: str = "text",
    min_words_per_line: int = 3,
    min_sentences: int = 3,
    max_words: int = 50_000,
    blocklist: tuple[str, ...] = (),
) -> "DataFrame":
    """The composed C4 cleaning pass: line retention first
    (:func:`c4_line_filter`), then the page gates over the CLEANED
    text (:func:`c4_page_flags` — C4 applies its sentence-count rule
    after line filtering), keeping only passing pages. One scan, one
    codegen'd filter, no shuffle."""
    cleaned = c4_line_filter(df, text_col, min_words_per_line)
    return cleaned.filter(
        c4_page_flags(
            F.col(text_col),
            min_sentences=min_sentences,
            max_words=max_words,
            blocklist=blocklist,
        )["passes"]
    )


def compression_ratio(text: Column, level: int = 6) -> Column:
    """zlib compressed-size / raw-size per document (6dp) — the
    compressibility quality signal web-scale curation uses beside the
    Gopher/C4 rules: natural prose compresses to ~0.3–0.5; runaway
    repetition compresses far below it (redundancy the n-gram
    repetition rules can miss when the period is long), while
    base64/hex blobs, minified code, and random gibberish sit near or
    above ~0.8. Gate BOTH tails. Empty/NULL text → NULL.

    Arrow-batched pandas UDF (zlib is C-speed; the byte stream is
    per-row sequential work no Column expression can express). Level 6
    is the standard deflate tradeoff; the signal is monotone enough in
    level that thresholds transfer."""
    import zlib

    @F.pandas_udf("double")
    def _ratio(texts: pd.Series) -> pd.Series:
        def one(t):
            if not t:
                return None
            raw = t.encode("utf-8")
            return round(len(zlib.compress(raw, level)) / len(raw), 6)

        return texts.map(one)

    return _ratio(text)


# cp1252-printable characters that UTF-8 continuation/lead bytes decode
# to when a UTF-8 stream is mis-read as cp1252 — the signature alphabet
# of mojibake ("Ã©" for é, "â€™" for ', "Â " for NBSP). The 0x80–0x9F
# range maps to these punctuation/letter forms under cp1252.
_MOJIBAKE_TAIL = (
    "€‚ƒ„…†‡ˆ‰Š‹"
    "ŒŽ‘’“”•–—˜™"
    "š›œžŸ -¿"
)
# Lead class Â–ô = 0xC2–0xF4, exactly the legal UTF-8 lead bytes
# (2-byte é → "Ã©", 3-byte ’ → "â€™", 4-byte emoji → "ð…").
_MOJIBAKE_PATTERN = rf"[Â-ô][{_MOJIBAKE_TAIL}]"


def mojibake_markers(text: Column) -> Column:
    """Count of UTF-8-as-cp1252 mojibake marker bigrams (a lead-byte
    character Â–ß followed by a cp1252 continuation form — "Ã©",
    "â€™", "Â·", …). Pure codegen ``regexp_count``: the cheap corpus
    statistic and the prefilter that keeps :func:`fix_mojibake`'s
    Python kernel off clean rows. 0 for NULL/clean text. The pattern
    is RE2-portable (plain character classes) and the count is pinned
    against a plain-Python reference in tests."""
    return F.coalesce(
        F.regexp_count(text, F.lit(_MOJIBAKE_PATTERN)), F.lit(0)
    )


def fix_mojibake(text: Column, max_passes: int = 2) -> Column:
    """Repair UTF-8-read-as-cp1252 mojibake (the dominant real-world
    encoding damage in web crawls; the core ftfy case): re-encode the
    text as cp1252 (latin-1 fallback for the five unmapped 0x81/8D/
    8F/90/9D controls — "sloppy cp1252") and decode as UTF-8; accept a
    pass only when the round-trip decodes cleanly. Up to ``max_passes``
    rounds unwind double-encoded text ("cafÃƒÂ©" → "cafÃ©" → "café").

    Legitimate extended-Latin text is safe by construction: "São
    Paulo" re-encodes to ``b'S\\xe3o'``, an invalid UTF-8 sequence, so
    the pass fails and the original is returned unchanged — pinned in
    tests. Arrow-batched pandas UDF; the kernel early-exits on rows
    without a marker bigram (one regex probe), so clean corpora pay
    ~zero Python cost; compose behind a :func:`mojibake_markers` > 0
    filter to keep the UDF off clean partitions entirely. NULL → NULL.
    """
    import re as _re

    pat = _re.compile(_MOJIBAKE_PATTERN)

    @F.pandas_udf("string")
    def _fix(texts: pd.Series) -> pd.Series:
        import codecs

        def _pass_raw_byte(e):
            # cp1252's five unmapped codepoints (0x81/8D/8F/90/9D)
            # arrive here when the original lenient decoder fell back
            # to latin-1; emit the raw byte. Anything >0xFF means the
            # text was never cp1252-damaged — propagate the error so
            # the caller keeps the original.
            ch = e.object[e.start : e.end]
            if all(ord(c) <= 0xFF for c in ch):
                return (bytes(ord(c) for c in ch), e.end)
            raise e

        codecs.register_error("electrician_sloppy1252", _pass_raw_byte)

        def enc_sloppy(t: str) -> bytes:
            return t.encode("cp1252", errors="electrician_sloppy1252")

        def one(t):
            if t is None or not pat.search(t):
                return t
            cur = t
            for _ in range(max_passes):
                try:
                    fixed = enc_sloppy(cur).decode("utf-8")
                except (UnicodeEncodeError, UnicodeDecodeError):
                    break
                if fixed == cur:
                    break
                cur = fixed
                if not pat.search(cur):
                    break
            return cur

        return texts.map(one)

    return _fix(text)


# Control/template tokens that must never appear verbatim in raw
# training text: their presence either leaks a template into the
# corpus or lets a crawled page inject turn boundaries into a model's
# chat framing (prompt-injection-at-training-time). Literal tokens +
# one regex family for the T5 sentinel series.
DEFAULT_SPECIAL_TOKENS = (
    "<|im_start|>", "<|im_end|>", "<|endoftext|>",
    "<|fim_prefix|>", "<|fim_suffix|>", "<|fim_middle|>",
    "<s>", "</s>", "<unk>", "<pad>", "<mask>",
)
_SENTINEL_RX = r"<extra_id_\d+>"


def _special_token_rx(tokens: tuple[str, ...]) -> str:
    import re as _re

    return "|".join([_re.escape(t) for t in tokens] + [_SENTINEL_RX])


def special_token_count(
    text: Column, tokens: tuple[str, ...] = DEFAULT_SPECIAL_TOKENS
) -> Column:
    """Occurrences of control/template tokens (plus the
    ``<extra_id_N>`` sentinel family) in raw text — the
    contamination census a pipeline runs before deciding to scrub or
    drop. Pure codegen ``regexp_count`` over one escaped alternation;
    0 for NULL. For blocklists beyond ~10² literals use the
    Aho-Corasick path (operators/keywordscan.py) instead."""
    return F.coalesce(
        F.regexp_count(text, F.lit(_special_token_rx(tokens))), F.lit(0)
    )


def scrub_special_tokens(
    text: Column,
    tokens: tuple[str, ...] = DEFAULT_SPECIAL_TOKENS,
    replacement: str = "",
) -> Column:
    """Remove (or replace) verbatim control/template tokens from raw
    text before tokenization — the standard hygiene pass that keeps
    crawled pages from injecting chat-turn boundaries or sentinel ids
    into training sequences. One codegen ``regexp_replace`` over the
    same alternation as :func:`special_token_count`; NULL passes
    through. Scrubbing is idempotent for the default empty
    replacement (pinned in tests)."""
    import re as _re

    return F.regexp_replace(
        text, _special_token_rx(tokens), _re.escape(replacement) if replacement else ""
    )


def non_ascii_count(text: Column) -> Column:
    """Codegen count of non-ASCII characters — the prefilter for
    :func:`nfkc_normalize` (ASCII text is NFKC-invariant, so rows
    with count 0 can skip the Arrow kernel entirely)."""
    return F.coalesce(
        F.regexp_count(text, F.lit(r"[^\x00-\x7F]")), F.lit(0)
    )


def nfkc_normalize(text: Column, form: str = "NFKC") -> Column:
    """Unicode normalization (default NFKC — the SentencePiece /
    tokenizer-prep convention): fullwidth forms fold to ASCII
    (ＡＢＣ→ABC), ligatures expand (ﬁ→fi), compatibility variants
    (① → 1, ㎞ → km) and combining sequences canonicalize — without
    this, visually-identical strings tokenize differently and dedup
    fingerprints split. ``form`` accepts any of NFC/NFD/NFKC/NFKD.

    Arrow-batched pandas UDF over ``unicodedata`` (stdlib — the same
    tables every tokenizer library uses); the kernel early-exits rows
    that are pure ASCII (NFKC-invariant by definition), and composing
    behind a ``non_ascii_count(text) > 0`` filter keeps the UDF off
    clean partitions entirely — the :func:`fix_mojibake` prefilter
    pattern. Idempotent (Unicode normalization is a projection);
    NULL → NULL."""
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"form must be one of NFC/NFD/NFKC/NFKD, got {form!r}")

    @F.pandas_udf("string")
    def _norm(texts: pd.Series) -> pd.Series:
        import unicodedata

        def one(t):
            if t is None:
                return None
            if t.isascii():
                return t
            return unicodedata.normalize(form, t)

        return texts.map(one)

    return _norm(text)
