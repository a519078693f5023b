"""BPE tokenizer training and encoding over a Spark corpus.

Scale design (the one production tokenizer trainers use — HF
``tokenizers``, SentencePiece): the corpus-scale work is a single
distributed pass that reduces the token stream to a *word-frequency
table* (one explode → one map-side-combinable groupBy, shuffle carries
distinct words only), and the merge loop itself runs driver-local over
that bounded table (``top_n_words`` rows — a few hundred thousand at
most, regardless of corpus size). At 100 TB the corpus pass is the only
part that touches the data; the merge loop's cost depends on vocabulary
shape, not corpus size. This is a *documented bounded-driver-work*
operator, same contract as k-means' k-centroid collects
(similarity.py) — the collect is O(top_n_words), never O(corpus).

Encoding applies the learned merge ranks per pre-token inside an
Arrow-batched pandas UDF (the merge table broadcasts with the closure;
per-piece merging is data-dependent looping that Column expressions
cannot express). A word-level LRU cache inside the batch exploits the
Zipfian repeat rate — most pieces in a batch are cache hits.

Algorithm: Sennrich, Haddow & Birch 2016, "Neural Machine Translation
of Rare Words with Subword Units" (the classic BPE trainer): repeat
``num_merges`` times {count adjacent symbol pairs weighted by word
frequency; merge the most frequent pair everywhere}. Ties break
lexicographically so training is deterministic.

Reference parity: the reference engine has no tokenizer (its text ops
are keyword containment / tagging — see functions/text.py docstring);
this module is part of the mandated LLM-pipeline extension surface.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, StringType

from electrician_spark.functions.text import token_frequency_table
from electrician_spark.io import local_frame

# End-of-word sentinel appended to every word's symbol sequence so
# merges distinguish word-final from word-internal contexts ("est</w>"
# vs "est" in "estimate"), per the original paper.
END_OF_WORD = "</w>"


def _pair_counts(vocab: dict[tuple[str, ...], int]) -> Counter:
    counts: Counter = Counter()
    for symbols, freq in vocab.items():
        for a, b in zip(symbols, symbols[1:]):
            counts[(a, b)] += freq
    return counts


def _train_bpe_merges_reference(
    vocab: dict[tuple[str, ...], int], num_merges: int
) -> list[tuple[str, str]]:
    """Textbook Sennrich loop — recounts every pair per merge. Kept as
    the O(num_merges · Σ|word|) equality reference the incremental
    trainer is pinned against in tests; never called on the hot path."""
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts = _pair_counts(vocab)
        if not counts:
            break
        pair, freq = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if freq < 2:
            break
        merges.append(pair)
        vocab = {_merge_pair(s, pair): f for s, f in vocab.items()}
    return merges


def _merge_pair(symbols: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    merged: list[str] = []
    i, n = 0, len(symbols)
    while i < n:
        if i + 1 < n and symbols[i] == pair[0] and symbols[i + 1] == pair[1]:
            merged.append(symbols[i] + symbols[i + 1])
            i += 2
        else:
            merged.append(symbols[i])
            i += 1
    return tuple(merged)


def train_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 1000,
    top_n_words: int = 200_000,
    min_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn an ordered BPE merge list from a corpus.

    Distributed: one corpus scan builds the (word, count) table via
    :func:`text.token_frequency_table` (BPE pre-tokenization, so words
    arrive with their leading-space convention intact); the top
    ``top_n_words`` by count are collected — bounded driver work.
    Local: the Sennrich merge loop over that table. Words below
    ``min_count`` are pruned before collection (they cannot influence
    early merges and dominate table size on web text).

    Returns the merge list in application order. Deterministic: ties on
    pair frequency break on the pair itself.

    The merge loop is the *incremental* Sennrich trainer: pair counts
    and a pair→words inverted index are maintained across merges, so
    each merge touches only the words that actually contain the merged
    pair (Zipf: a vanishing fraction past the first few hundred merges)
    instead of recounting every pair in every word. Same output as the
    textbook recount loop (:func:`_train_bpe_merges_reference`, pinned
    by test at ≥2k merges) — at a production 32k merges the recount
    form is hours of driver time, this is seconds.
    """
    freq_rows = token_frequency_table(
        df, text_col=text_col, tokenizer="bpe", min_count=min_count, top_n=top_n_words
    ).collect()
    agg: dict[tuple[str, ...], int] = {}
    for row in freq_rows:
        symbols = tuple(row["token"]) + (END_OF_WORD,)
        agg[symbols] = agg.get(symbols, 0) + int(row["count"])
    return _merge_loop(agg, num_merges)


def _merge_loop(
    agg: dict[tuple[str, ...], int], num_merges: int
) -> list[tuple[str, str]]:
    """Driver-local incremental merge loop over a (symbols → freq)
    vocabulary table (see :func:`train_bpe_merges` for the contract)."""
    words: list[tuple[str, ...]] = list(agg)
    freqs: list[int] = [agg[w] for w in words]

    pair_counts: Counter = Counter()
    pair_words: dict[tuple[str, str], set[int]] = {}
    for wi, symbols in enumerate(words):
        f = freqs[wi]
        for p in zip(symbols, symbols[1:]):
            pair_counts[p] += f
            pair_words.setdefault(p, set()).add(wi)

    # Lazy-deletion max-heap over (-count, pair): selection is O(log H)
    # amortized instead of a full O(|pairs|) scan per merge. Every count
    # change pushes a fresh entry; a popped entry is authoritative only
    # if its count still matches pair_counts (stale ones are discarded).
    # Tuple order (-count, pair) reproduces the reference tie-break
    # exactly: highest count, then lexicographically smallest pair.
    import heapq

    heap: list[tuple[int, tuple[str, str]]] = [
        (-c, p) for p, c in pair_counts.items()
    ]
    heapq.heapify(heap)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pair = None
        while heap:
            negc, cand = heapq.heappop(heap)
            if pair_counts.get(cand) == -negc:
                pair, freq = cand, -negc
                break
        if pair is None:
            break
        if freq < 2:
            break  # every remaining pair is unique — no information left
        merges.append(pair)
        # Update ONLY the words containing the merged pair. The index
        # holds stale members (words that lost the pair in an earlier
        # merge keep their entry until visited) — harmless: staleness
        # costs one skipped iteration, while pair_counts, which drives
        # selection, is kept exact below.
        for wi in pair_words.pop(pair, ()):  # noqa: B909 — pop before iterate
            old = words[wi]
            new = _merge_pair(old, pair)
            if new == old:
                continue  # stale index entry
            f = freqs[wi]
            for p in zip(old, old[1:]):
                c = pair_counts[p] - f
                if c > 0:
                    pair_counts[p] = c
                    heapq.heappush(heap, (-c, p))
                else:
                    del pair_counts[p]
            for p in zip(new, new[1:]):
                c = pair_counts[p] + f
                pair_counts[p] = c
                heapq.heappush(heap, (-c, p))
                pair_words.setdefault(p, set()).add(wi)
            words[wi] = new
    return merges


def bpe_vocab(merges: list[tuple[str, str]], base_alphabet: str | None = None) -> list[str]:
    """Vocabulary implied by a merge list: the merged symbols in merge
    order (optionally prefixed by an explicit base alphabet). The id of
    a symbol is its index — the standard BPE vocab file layout."""
    vocab = list(base_alphabet) if base_alphabet else []
    seen = set(vocab)
    for a, b in merges:
        sym = a + b
        if sym not in seen:
            seen.add(sym)
            vocab.append(sym)
    return vocab


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Segment one pre-token using learned merge ranks (lowest rank
    merges first — exactly the trainer's application order)."""
    symbols = list(word) + [END_OF_WORD]
    while len(symbols) > 1:
        best_rank, best_i = None, -1
        for i in range(len(symbols) - 1):
            r = ranks.get((symbols[i], symbols[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        symbols[best_i : best_i + 2] = [symbols[best_i] + symbols[best_i + 1]]
    return symbols


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Add ``out_col``: the BPE segmentation of ``text_col`` as an
    array of subword strings.

    The merge-rank table ships to executors in the UDF closure
    (broadcast-equivalent; a learned table is small — ``num_merges``
    entries). Pre-tokenization runs JVM-side first
    (:data:`text.BPE_PRETOKEN_PATTERN` via ``bpe_pretokens``), so the
    pandas UDF only sees the piece arrays; inside each Arrow batch a
    word→segmentation cache collapses the Zipfian head, so per-batch
    work is proportional to *distinct* pieces, not total pieces."""
    from electrician_spark.functions.text import bpe_pretokens

    ranks = {pair: i for i, pair in enumerate(merges)}

    @F.pandas_udf(ArrayType(StringType()))
    def _encode(pieces_series):
        cache: dict[str, list[str]] = {}

        def enc(pieces):
            if pieces is None:
                # NULL text → NULL tokens (match normalize_text's NULL
                # propagation; one bad row must not abort the job).
                return None
            out: list[str] = []
            for p in pieces:
                seg = cache.get(p)
                if seg is None:
                    seg = encode_word(p, ranks)
                    cache[p] = seg
                out.extend(seg)
            return out

        return pieces_series.map(enc)

    return df.withColumn(out_col, _encode(bpe_pretokens(F.col(text_col))))


def bpe_encoded_length(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_len",
) -> DataFrame:
    """Add ``out_col``: the exact learned-vocab token count (the length
    budget a packing/filter stage actually needs — cheaper than
    materializing the token arrays when only the count is consumed)."""
    tmp = "__bpe_tokens_tmp"
    out = bpe_encode(df, merges, text_col=text_col, out_col=tmp)
    return out.withColumn(out_col, F.size(F.col(tmp))).drop(tmp)


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (Kudo 2018, "Subword Regularization: Improving
# Neural Network Translation Models with Multiple Subword Candidates")
# — the SentencePiece algorithm and the standard alternative to BPE:
# treat tokenization as inference under a unigram language model over
# subword pieces; train by EM over the segmentation lattice, prune the
# seed vocabulary down to size, encode by Viterbi.
#
# Scale design mirrors the BPE trainer's contract exactly: ONE
# distributed corpus pass reduces the token stream to the bounded
# word-frequency table, a SECOND distributed pass seeds the candidate
# vocabulary (substring explode → map-side-combined weight sum → top-N
# TakeOrdered — never a driver-side substring scan), and the EM/prune
# loop runs driver-local over the two bounded tables (top_n_words ×
# O(len·max_piece_len) lattice ops per iteration — vocabulary-shaped
# cost, corpus-size-independent). Encoding is the same Arrow-batched
# pandas-UDF shape as bpe_encode with the piece table in the closure.
# ---------------------------------------------------------------------------


def _unigram_viterbi(word: str, logp: dict[str, float], max_len: int) -> list[str]:
    """Best segmentation under the piece log-probabilities. Ties break
    toward the LONGEST piece at each boundary (strict-improvement
    updates while scanning piece lengths descending) — deterministic."""
    n = len(word)
    NEG = float("-inf")
    best = [NEG] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0.0
    for i in range(1, n + 1):
        for l in range(min(max_len, i), 0, -1):
            piece = word[i - l : i]
            lp = logp.get(piece)
            if lp is None or best[i - l] == NEG:
                continue
            score = best[i - l] + lp
            if score > best[i]:
                best[i] = score
                back[i] = l
    if best[n] == NEG:  # unreachable when all single chars are in vocab
        return list(word)
    out: list[str] = []
    i = n
    while i > 0:
        out.append(word[i - back[i] : i])
        i -= back[i]
    return out[::-1]


def _unigram_estep(
    word: str, freq: int, logp: dict[str, float], max_len: int
) -> tuple[dict[str, float], float]:
    """Forward-backward over the segmentation lattice: returns
    (expected piece counts × freq, total log-likelihood × freq).
    alpha[i] = logsumexp over all segmentations of word[:i];
    E[count(piece j..i)] = exp(alpha[j] + logp + beta[i] − alpha[n])."""
    import math

    n = len(word)
    NEG = float("-inf")

    def ladd(a: float, b: float) -> float:
        if a == NEG:
            return b
        if b == NEG:
            return a
        m = a if a > b else b
        return m + math.log1p(math.exp(-(abs(a - b))))

    alpha = [NEG] * (n + 1)
    alpha[0] = 0.0
    for i in range(1, n + 1):
        for l in range(1, min(max_len, i) + 1):
            lp = logp.get(word[i - l : i])
            if lp is not None and alpha[i - l] != NEG:
                alpha[i] = ladd(alpha[i], alpha[i - l] + lp)
    beta = [NEG] * (n + 1)
    beta[n] = 0.0
    for i in range(n - 1, -1, -1):
        for l in range(1, min(max_len, n - i) + 1):
            lp = logp.get(word[i : i + l])
            if lp is not None and beta[i + l] != NEG:
                beta[i] = ladd(beta[i], lp + beta[i + l])
    total = alpha[n]
    counts: dict[str, float] = {}
    if total == NEG:
        return counts, 0.0
    for i in range(n + 1):
        if alpha[i] == NEG:
            continue
        for l in range(1, min(max_len, n - i) + 1):
            piece = word[i : i + l]
            lp = logp.get(piece)
            if lp is not None and beta[i + l] != NEG:
                c = math.exp(alpha[i] + lp + beta[i + l] - total) * freq
                counts[piece] = counts.get(piece, 0.0) + c
    return counts, total * freq


def seed_piece_table(
    wf: DataFrame,
    seed_size: int,
    max_piece_len: int = 8,
    word_col: str = "token",
    count_col: str = "count",
) -> DataFrame:
    """Candidate piece seeding, DISTRIBUTED: every substring of length
    1..max_piece_len of every word, weighted by word frequency ×
    substring length (the standard likelihood-mass heuristic standing
    in for Kudo's suffix-array seeding), summed map-side-combined, top
    ``seed_size`` by (weight desc, piece) via TakeOrdered — plus ALL
    single characters unconditionally (segmentation must never fail).
    Input is the word-frequency table, so cost scales with distinct
    words, not corpus tokens."""
    w = F.col(word_col)
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.length(w) - 1),
            lambda s: F.transform(
                F.sequence(F.lit(1), F.least(F.lit(max_piece_len), F.length(w) - s)),
                lambda l: F.substring(w, (s + 1).cast("int"), l.cast("int")),
            ),
        )
    )
    exploded = wf.select(
        F.explode(subs).alias("piece"), F.col(count_col).alias("_c")
    )
    weighted = exploded.groupBy("piece").agg(
        F.sum(F.col("_c") * F.length("piece")).alias("weight")
    )
    multi = (
        weighted.filter(F.length("piece") >= 2)
        .orderBy(F.col("weight").desc(), "piece")
        .limit(max(0, seed_size))
    )
    chars = weighted.filter(F.length("piece") == 1)
    return chars.unionByName(multi).select("piece", "weight")


def _soft_em_sweeps(
    words: list[tuple[str, int]],
    logp: dict[str, float],
    iters: int,
    max_piece_len: int,
) -> dict[str, float]:
    """``iters`` full soft-EM sweeps over the frozen word-frequency
    table: forward-backward expected counts (:func:`_unigram_estep`)
    → renormalize, with a mass floor so single chars never leave the
    model (segmentation totality). This IS the production trainer's
    update rule, factored out so the monotone-likelihood property can
    be pinned directly on it (test_tokenizer) — the q_em1 waiver's
    strengthened property pin: the float posteriors here have no
    exact cross-engine form (see unigram_hard_em_round for the
    oracle-replayable EM family member)."""
    import math

    for _ in range(iters):
        counts: dict[str, float] = {}
        for word, freq in words:
            wc, _ll = _unigram_estep(word, freq, logp, max_piece_len)
            for p, c in wc.items():
                counts[p] = counts.get(p, 0.0) + c
        tot = sum(counts.values())
        floor = (tot / max(len(logp), 1)) * 1e-9
        logp = {
            p: math.log(max(counts.get(p, 0.0), floor) / tot) for p in logp
        }
    return logp


def train_unigram_tokenizer(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 4000,
    max_piece_len: int = 8,
    seed_multiplier: int = 4,
    em_iters: int = 2,
    shrink: float = 0.75,
    top_n_words: int = 200_000,
    tokenizer: str = "whitespace",
) -> list[tuple[str, float]]:
    """Train the unigram-LM piece vocabulary: distributed word-freq +
    substring-seed passes, then driver-local EM/prune rounds over the
    bounded tables (the BPE-merge-loop contract — cost is vocabulary-
    shaped, never corpus-shaped). Each round: ``em_iters`` EM sweeps
    (forward-backward expected counts → renormalize), then keep the
    top ``shrink`` fraction of multi-char pieces by expected count
    (single chars are never pruned), until ≤ ``vocab_size`` pieces
    remain; one final EM polish. Returns [(piece, logprob)] sorted by
    (logprob desc, piece) — deterministic for a given corpus.

    Likelihood is monotone non-decreasing across EM sweeps within a
    round (standard EM guarantee, pinned in tests); pruning between
    rounds trades likelihood for size, as in SentencePiece."""
    import math

    if not 0.0 < shrink < 1.0:
        raise ValueError(f"shrink must be in (0, 1), got {shrink}")
    if vocab_size < 2:
        raise ValueError(f"vocab_size must be >= 2, got {vocab_size}")
    wf = token_frequency_table(
        df, text_col=text_col, top_n=top_n_words, tokenizer=tokenizer
    )
    # Sort both bounded driver-side tables: EM accumulates FLOAT
    # expected counts, and float addition is order-sensitive, so the
    # collect() partition order must not leak into the trained bits —
    # the trainer contract is bit-deterministic for a given corpus
    # (artifact freezing / cross-session reproducibility depend on it).
    words = sorted(
        (r["token"], int(r["count"])) for r in wf.collect()
    )  # bounded
    seed = sorted(
        seed_piece_table(
            wf, seed_size=vocab_size * seed_multiplier, max_piece_len=max_piece_len
        ).collect(),  # bounded: seed_size + alphabet rows
        key=lambda r: r["piece"],
    )
    weights = {r["piece"]: float(r["weight"]) for r in seed}
    total_w = sum(weights.values())
    logp = {p: math.log(wt / total_w) for p, wt in weights.items()}

    def em_sweeps(logp: dict[str, float], iters: int) -> dict[str, float]:
        return _soft_em_sweeps(words, logp, iters, max_piece_len)

    while True:
        logp = em_sweeps(logp, em_iters)
        multi = [(p, lp) for p, lp in logp.items() if len(p) >= 2]
        n_chars = len(logp) - len(multi)
        if len(logp) <= vocab_size or not multi:
            break
        target_multi = max(0, min(len(multi) - 1,
                                  max(vocab_size - n_chars,
                                      int(len(multi) * shrink))))
        if target_multi >= len(multi):
            break
        multi.sort(key=lambda kv: (-kv[1], kv[0]))
        kept = dict(multi[:target_multi])
        logp = {p: lp for p, lp in logp.items() if len(p) == 1 or p in kept}
    logp = em_sweeps(logp, 1)
    return sorted(logp.items(), key=lambda kv: (-kv[1], kv[0]))


def quantize_logprobs(
    model: list[tuple[str, float]], bits: int = 20
) -> list[tuple[str, float]]:
    """Snap each piece log-probability to the nearest multiple of
    2**-bits (a DYADIC rational, exactly representable in binary64).
    Viterbi path scores become exact sums of dyadics — no floating-
    point rounding anywhere in the DP — so the best segmentation is
    reproducible bit-for-bit across engines, serialization round-trips,
    and summation orders (the property every cross-engine replay and
    every distributed re-score of an encoded corpus needs). At the
    default 20 bits the grid is ~1e-6 — far below any meaningful
    likelihood difference between segmentations, so quantization
    changes ties only where the model itself had none to speak of.
    Ordering follows the :func:`train_unigram_tokenizer` contract:
    (logprob desc, piece)."""
    q = float(1 << bits)
    out = [(p, round(lp * q) / q) for p, lp in model]
    out.sort(key=lambda kv: (-kv[1], kv[0]))
    return out


def unigram_encode(
    df: DataFrame,
    model: list[tuple[str, float]],
    text_col: str = "text",
    out_col: str = "pieces",
    max_piece_len: int = 8,
    split_words: bool = True,
) -> DataFrame:
    """Append ``out_col``: the Viterbi piece sequence of each document
    under a :func:`train_unigram_tokenizer` model. Arrow-batched pandas
    UDF with the piece table in the closure and a per-batch word cache
    (Zipfian hit rate), the same shape/contract as :func:`bpe_encode`.
    Concatenating a word's pieces reproduces the word exactly.

    ``split_words=False`` treats each input value as ONE word (no
    re-split). Callers that already tokenized upstream — e.g. the
    hard-EM E-step, whose word table came from the distributed Java
    ``\\s+`` split — must use this: Python ``str.split()`` splits on
    UNICODE whitespace (U+00A0, U+2028, ...) that Java/RE2 ``\\s``
    (ASCII-only) does not, so re-splitting here would fragment such
    tokens and diverge piece lists from a SQL replay."""
    logp = dict(model)

    @F.pandas_udf(ArrayType(StringType()))
    def _enc(texts):
        cache: dict[str, list[str]] = {}

        def enc(text):
            if text is None:
                return None
            out: list[str] = []
            for w in text.split() if split_words else (text,):
                if not w:
                    continue
                hit = cache.get(w)
                if hit is None:
                    hit = _unigram_viterbi(w, logp, max_piece_len)
                    cache[w] = hit
                out.extend(hit)
            return out

        return texts.map(enc)

    return df.withColumn(out_col, _enc(F.col(text_col)))


def unigram_hard_em_round(
    docs: DataFrame,
    model: list[tuple[str, float]],
    text_col: str = "text",
    max_piece_len: int = 8,
    alpha: float = 0.5,
    quant_bits: int = 20,
) -> tuple[list[tuple[str, float]], dict[str, int]]:
    """One HARD-EM (Viterbi-EM) training round over a corpus, the
    oracle-replayable sibling of :func:`train_unigram_tokenizer`'s
    soft EM (Kudo 2018 §3.2 trains with full forward-backward; the
    hard variant assigns each word its single Viterbi segmentation —
    a standard EM family member, and the one whose every intermediate
    quantity is EXACT under dyadic weights, which is what lets a SQL
    oracle replay a training step end-to-end):

    - **E-step**: Viterbi-segment every distinct corpus word under the
      (quantized-dyadic) input model — the DISTRIBUTED
      :func:`unigram_encode` pass over the word-frequency table, so
      cost scales with distinct words, not corpus tokens.
    - **M-step**: piece counts from the chosen segmentations
      (INTEGERS — no posterior floats anywhere), add-``alpha``
      smoothed over the model's own support (out-of-support fallback
      chars are outside the event space and excluded), re-normalized
      and snapped to the 2^-quant_bits grid with floor(x*2^b + 0.5)
      (identical floor semantics in every engine).

    Returns ``(new_model, stats)`` where ``new_model`` is
    [(piece, logprob)] in the trainer's (logprob desc, piece) order
    and ``stats`` carries EXACT integers (units of 2^-quant_bits):
    ``old_obj_u`` / ``new_obj_u`` — the freq-weighted total Viterbi
    score of the corpus under the input / output model (fallback
    words score by their in-vocab single chars, the
    :func:`unigram_encode` convention) — plus ``total_freq`` and
    ``k``. Hard EM's monotone-improvement property is visible as
    ``new_obj_u >= old_obj_u`` whenever the input model is not
    already at a fixed point (smoothing + quantization can perturb it
    by at most ~k/2 units; tests pin the real inequality)."""
    spark = docs.sparkSession
    q = 1 << quant_bits
    words = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda x: F.length(x) > 0
    )
    wf = (
        docs.select(F.explode(words).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("count"))
    )
    wf = wf.localCheckpoint(eager=False)

    def _obj_and_counts(m: list[tuple[str, float]]):
        """Objective AND per-piece counts from ONE aggregation job.

        Both derive from the bounded (piece, lp_u, Σcount) census —
        obj = Σ lp_u·c over in-support pieces, counts = the in-support
        rows — so the Viterbi encode (the round's dominant cost) runs
        once per model, not once per quantity."""
        mdf = local_frame(spark, [(p, int(round(lp * q))) for p, lp in m], "piece string, lp_u long")
        # split_words=False: each table entry IS one word (the
        # distributed Java \s+ split already tokenized); a Python
        # re-split would fragment tokens containing non-ASCII Unicode
        # whitespace (U+00A0 ...) and diverge from the SQL oracle.
        enc = unigram_encode(
            wf.withColumn("text", F.col("token")),
            m,
            max_piece_len=max_piece_len,
            split_words=False,
        )
        pe = enc.select("token", "count", F.explode("pieces").alias("piece")).join(
            F.broadcast(mdf), "piece", "left"
        )
        rows = (
            pe.groupBy("piece", "lp_u").agg(F.sum("count").alias("c")).collect()
        )  # bounded: <= model support + distinct fallback chars
        obj = sum(int(r["lp_u"]) * int(r["c"]) for r in rows if r["lp_u"] is not None)
        counts = {
            r["piece"]: int(r["c"]) for r in rows if r["lp_u"] is not None
        }
        return int(obj), counts

    old_obj, counts = _obj_and_counts(model)
    k = len(model)
    total = sum(counts.values())
    # M-step ln/floor runs DRIVER-side in C libm — the library SQL
    # engines' ln links against — not Spark's JVM StrictMath, whose
    # 1-ulp differences at floor boundaries could flake an
    # exact-integer oracle replay (the train_langid convention).
    import math

    c_of = {p: counts.get(p, 0) for p, _ in model}
    new_lp_u = {
        p: math.floor(
            math.log((c + alpha) / (total + alpha * k)) * q + 0.5
        )
        for p, c in c_of.items()
    }
    new_model = sorted(
        ((p, lu / q) for p, lu in new_lp_u.items()), key=lambda kv: (-kv[1], kv[0])
    )
    new_obj, _ = _obj_and_counts(new_model)
    stats = {
        "old_obj_u": old_obj,
        "new_obj_u": new_obj,
        "total_freq": int(
            wf.agg(F.sum("count")).first()[0] or 0
        ),
        "k": k,
        "counts": c_of,
    }
    return new_model, stats


# ---------------------------------------------------------------------------
# WordPiece (Schuster & Nakajima 2012; the BERT tokenizer) — the third
# tokenizer family next to BPE (merge-by-frequency) and Unigram
# (prune-by-likelihood). Training is merge-based like BPE but scores a
# candidate pair by count(ab) / (count(a)·count(b)) — merging the pair
# whose joint occurrence is most surprising under independence — and
# the learned artifact is a VOCABULARY (not an ordered merge list):
# encoding is greedy longest-match, so only membership matters.
# Continuation pieces carry the "##" prefix.
# ---------------------------------------------------------------------------

WORDPIECE_UNK = "[UNK]"


def _wp_symbols(word: str) -> tuple[str, ...]:
    return tuple([word[0]] + ["##" + c for c in word[1:]])


def _wp_join(a: str, b: str) -> str:
    return a + (b[2:] if b.startswith("##") else b)


def _wp_merge(
    sym: tuple[str, ...], pair: tuple[str, str], merged: str
) -> tuple[str, ...]:
    """Replace adjacent ``pair`` occurrences with ``merged`` — the
    WordPiece analog of :func:`_merge_pair` (which must NOT be used
    here: the continuation marker of the second element is folded into
    ``merged`` by :func:`_wp_join`, not concatenated verbatim)."""
    out: list[str] = []
    i = 0
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == pair[0] and sym[i + 1] == pair[1]:
            out.append(merged)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def train_wordpiece_vocab(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 1000,
    top_n_words: int = 200_000,
    min_count: int = 2,
) -> list[str]:
    """Learn a WordPiece vocabulary from a corpus.

    Distributed: ONE corpus scan builds the (word, count) table
    (whitespace pre-tokenization — BERT's convention after its
    punctuation splitter; feed pre-split text for full parity), top
    ``top_n_words`` collected — the same bounded-driver contract as
    :func:`train_bpe_merges`. Local: the likelihood-scored merge loop.
    Each round merges the pair maximizing count(ab)/(count(a)·count(b))
    over current symbol counts (ties break on the pair itself, so
    training is deterministic), until the vocabulary — alphabet pieces
    plus every merged piece — reaches ``vocab_size`` or no pair
    repeats. Returns [UNK] + pieces, sorted (membership is all that
    matters for greedy longest-match encoding)."""
    freq_rows = token_frequency_table(
        df, text_col=text_col, tokenizer="whitespace",
        min_count=min_count, top_n=top_n_words,
    ).collect()
    words: dict[tuple[str, ...], int] = {}
    for row in freq_rows:
        w = row["token"]
        if not w:
            continue
        sym = _wp_symbols(w)
        words[sym] = words.get(sym, 0) + int(row["count"])

    vocab: set[str] = set()
    for sym in words:
        vocab.update(sym)
    while len(vocab) + 1 < vocab_size:
        sym_counts: dict[str, int] = {}
        pair_counts: dict[tuple[str, str], int] = {}
        for sym, c in words.items():
            for s in sym:
                sym_counts[s] = sym_counts.get(s, 0) + c
            for a, b in zip(sym, sym[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + c
        best, best_score = None, None
        for pair, c in pair_counts.items():
            if c < 2:
                continue
            score = c / (sym_counts[pair[0]] * sym_counts[pair[1]])
            key = (score, pair)
            if best is None or key > (best_score, best):
                best, best_score = pair, score
        if best is None:
            break
        merged = _wp_join(*best)
        vocab.add(merged)
        new_words: dict[tuple[str, ...], int] = {}
        for sym, c in words.items():
            m = _wp_merge(sym, best, merged)
            new_words[m] = new_words.get(m, 0) + c
        words = new_words
    return [WORDPIECE_UNK] + sorted(vocab)


def wordpiece_word(word: str, vocab: set[str]) -> list[str]:
    """Greedy longest-match-first segmentation of one word; a word with
    any unsegmentable remainder encodes as a single [UNK] (BERT's
    whole-word-UNK rule)."""
    out: list[str] = []
    i, n = 0, len(word)
    while i < n:
        end = n
        piece = None
        while end > i:
            cand = word[i:end]
            if i > 0:
                cand = "##" + cand
            if cand in vocab:
                piece = cand
                break
            end -= 1
        if piece is None:
            return [WORDPIECE_UNK]
        out.append(piece)
        i = end
    return out


def wordpiece_encode(
    df: DataFrame,
    vocab: list[str],
    text_col: str = "text",
    out_col: str = "pieces",
) -> DataFrame:
    """Append ``out_col``: greedy longest-match WordPiece segmentation
    of each document under a :func:`train_wordpiece_vocab` vocabulary.
    Arrow-batched pandas UDF, vocab in the closure, per-batch word
    cache — the same shape/contract as :func:`bpe_encode` /
    :func:`unigram_encode`. Stripping '##' and concatenating a word's
    pieces reproduces the word exactly (unless it was [UNK])."""
    vset = set(vocab)

    @F.pandas_udf(ArrayType(StringType()))
    def _enc(texts):
        cache: dict[str, list[str]] = {}

        def enc(text):
            if text is None:
                return None
            out: list[str] = []
            for w in text.split():
                hit = cache.get(w)
                if hit is None:
                    hit = wordpiece_word(w, vset)
                    cache[w] = hit
                out.extend(hit)
            return out

        return texts.map(enc)

    return df.withColumn(out_col, _enc(F.col(text_col)))


# ---------------------------------------------------------------------------
# Tokenizer artifact persistence — a tokenizer is trained ONCE and
# reused for the life of a model; the artifact must round-trip across
# runs, clusters, and languages. One JSON file per tokenizer (the
# HF-tokenizers/SentencePiece convention at its simplest): a `type`
# discriminator plus the family's learned state. JSON keeps the
# artifact human-diffable and engine-agnostic; logprobs serialize via
# repr-roundtrip floats so encodings are bit-identical after reload.
# ---------------------------------------------------------------------------


def save_tokenizer(path: str, kind: str, artifact) -> None:
    """Write a trained tokenizer artifact:

    - ``kind='bpe'``: the ordered merge list from
      :func:`train_bpe_merges` (list of string pairs),
    - ``kind='wordpiece'``: the vocabulary list from
      :func:`train_wordpiece_vocab`,
    - ``kind='unigram'``: the (piece, logprob) list from
      :func:`train_unigram_tokenizer`.
    """
    import json
    import os

    if kind not in ("bpe", "wordpiece", "unigram"):
        raise ValueError(f"unknown tokenizer kind {kind!r}")
    if kind == "bpe":
        payload = [[a, b] for a, b in artifact]
    elif kind == "wordpiece":
        payload = list(artifact)
    else:
        payload = [[p, float(lp)] for p, lp in artifact]
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"type": kind, "version": 1, "data": payload}, f)
    os.replace(tmp, path)  # atomic: readers never see a torn artifact


def load_tokenizer(path: str):
    """Read a :func:`save_tokenizer` artifact → ``(kind, artifact)``
    with the exact in-memory shape the encoders take (BPE merge list
    of tuples / WordPiece vocab list / unigram (piece, logprob)
    tuples) — reloaded artifacts encode bit-identically (pinned)."""
    import json

    with open(path) as f:
        doc = json.load(f)
    kind = doc.get("type")
    data = doc.get("data")
    if kind == "bpe":
        return kind, [(a, b) for a, b in data]
    if kind == "wordpiece":
        return kind, list(data)
    if kind == "unigram":
        return kind, [(p, float(lp)) for p, lp in data]
    raise ValueError(f"unknown tokenizer artifact type {kind!r} in {path}")
