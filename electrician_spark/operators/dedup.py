"""Deduplication operators for training-data pipelines.

Five strategies, all expressed as DataFrame plans (no driver-side
loops, no Python UDFs in the hot path):

- exact:         hash-groupBy on a normalized fingerprint
- n-gram Jaccard: hashed shingles → prefix join → exact array_intersect verify
- MinHash + LSH:  shingle → k min-hashes → band buckets → bucket join
- SimHash:        shingle bit-vote → 64-bit signature → hamming pairs
- embedding:      cosine over an embedding column (see similarity.py)

Scale notes (100 TB):
- The pairwise Jaccard join is *blocked on shingle* — only documents
  sharing a shingle ever meet, and the hot-shingle skew is capped with
  a document-frequency filter (``max_df``), the standard trick for
  making the shingle join tractable at corpus scale.
- MinHash/LSH is the real scale path: candidate generation is a
  group-by on (band_id, band_hash) — linear shuffle, no quadratic
  blow-up. Hash functions are md5-seeded so signatures are
  deterministic across engines and runs (no RNG state to ship).
- SimHash reduces each doc to one 64-bit int; the pair join is on
  16-bit signature-slice buckets (65,536 keys per position).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from electrician_spark.functions import text as tx
from electrician_spark.io import local_frame


def normalize_text(text: Column) -> Column:
    return F.lower(F.concat_ws(" ", tx.tokens(text)))


def exact_dedup(df: DataFrame, text_col: str = "text", keep_col: str | None = None) -> DataFrame:
    """Keep one row per normalized text. With ``keep_col`` the minimum
    value wins (deterministic); otherwise dropDuplicates on the
    fingerprint."""
    with_fp = df.withColumn("_fp", tx.fingerprint(F.col(text_col)))
    if keep_col is None:
        return with_fp.dropDuplicates(["_fp"]).drop("_fp")
    from pyspark.sql import Window

    w = Window.partitionBy("_fp").orderBy(F.col(keep_col))
    return (
        with_fp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def _shingle_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_df: int | None,
    n_docs: int | None = None,
) -> DataFrame:
    """(id, shingle) pairs, deduplicated; optionally drop shingles that
    occur in more than ``max_df`` documents (hot-key / stopword-shingle
    guard: at corpus scale a shingle present in millions of docs would
    otherwise dominate the join). ``n_docs`` is an optional caller hint
    for the corpus row count — pass it (corpus pipelines know their
    sizes) and the guard's no-op check costs zero jobs; without it one
    ``df.count()`` job runs, which re-executes whatever plan sits
    upstream of ``df``."""
    from electrician_spark.io import fan_out_small

    # Two projections on purpose: the token array must be an attribute
    # reference before shingling, or every element_at re-runs split()
    # (O(len²) per doc — 13× slower measured at sf0.1). CollapseProject
    # keeps them separate because _tk is referenced n times above.
    # Both expressions are parsed SQL strings (the _minhash_aggs py4j
    # note) — byte-identical trees to tx.tokens /
    # tx.shingles_from_tokens, which stay the Column-API forms.
    grams = ", ".join(
        f"element_at(_tk, CAST((i + {j}) AS INT))" for j in range(n)
    )
    shingles_sql = (
        f"CASE WHEN size(_tk) >= {n} THEN array_distinct(transform("
        f"sequence(1, size(_tk) - {n - 1}), "
        f"i -> concat_ws(' ', {grams}))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    base = fan_out_small(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")))
    # The tokenize split stays the Column form (~3 extra py4j calls):
    # as a SQL string its '\\s+' literal would silently parse as a
    # different pattern under spark.sql.parser.escapedStringLiterals=
    # true, diverging from tx.tokens with no error (r15 ADVICE item 1).
    sh = base.select("_id", F.split(F.trim(F.col("_txt")), r"\s+").alias("_tk")).select(
        "_id", F.explode(F.expr(shingles_sql)).alias("_s")
    )
    if max_df is not None and (n_docs if n_docs is not None else df.count()) <= max_df:
        # A shingle's document frequency is bounded by the corpus row
        # count (shingles are distinct per doc), so when n_docs ≤ max_df
        # the guard cannot filter anything — skip the full-table df
        # aggregation + anti-join rather than pay for a provable no-op
        # (it cost q_d2 +35% at bench scale). One metadata-cheap count
        # of the *input* table, not the exploded shingle scan — and
        # zero jobs when the caller passed the n_docs hint.
        max_df = None
    if max_df is not None:
        # Anti-join against the HOT set (df > max_df): at corpus scale the
        # survivors are nearly all shingles (unbroadcastable), while the
        # over-cap set is a handful of boilerplate shingles — that is the
        # side to broadcast.
        hot = sh.groupBy("_s").agg(F.count("*").alias("_df")).filter(F.col("_df") > max_df)
        sh = sh.join(F.broadcast(hot.select("_s")), "_s", "left_anti")
    return sh


def _doc_shingle_arrays(sh: DataFrame, order: str = "lex") -> DataFrame:
    """(id, shingle array sorted under a fixed global order, size) per
    document — the compact per-doc representation every dedup family
    derives from (prefixes = slice, verify = array_intersect). One
    groupBy instead of one explode+shuffle per derived quantity.

    ``order="lex"``: ascending shingle value. ``order="df"``:
    document-frequency ascending (rarest first, ties by shingle value) —
    each shingle row picks up its global df from a count window over the
    shingle key, so the shingle table is consumed once (an aggregate +
    self-join would scan, split and explode the corpus twice)."""
    if order == "lex":
        return sh.groupBy("_id").agg(
            F.array_sort(F.collect_list("_s")).alias("_arr"), F.count("*").alias("_sz")
        )
    if order != "df":
        raise ValueError(f"order must be 'lex' or 'df', got {order!r}")
    from pyspark.sql import Window

    keyed = sh.withColumn("_df", F.count("*").over(Window.partitionBy("_s")))
    docs = keyed.groupBy("_id").agg(
        F.array_sort(F.collect_list(F.struct("_df", "_s"))).alias("_ka")
    )
    return docs.select(
        "_id", F.col("_ka._s").alias("_arr"), F.size("_ka").alias("_sz")
    )


def _verify_pairs(cand: DataFrame, docs: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for candidate (id_a, id_b) pairs via
    array_intersect over the per-doc shingle arrays — O(|candidates|),
    no re-join on shingles."""
    a = docs.select(F.col("_id").alias("id_a"), F.col("_arr").alias("_aa"), F.col("_sz").alias("_sza"))
    b = docs.select(F.col("_id").alias("id_b"), F.col("_arr").alias("_ab"), F.col("_sz").alias("_szb"))
    inter = F.size(F.array_intersect(F.col("_aa"), F.col("_ab")))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / (F.col("_sza") + F.col("_szb") - inter), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 100_000,
    prefix_order: str = "df",
    n_docs: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold, with
    prefix filtering (the ppjoin-family blocking that makes exact
    set-similarity joins tractable at corpus scale).

    Candidate generation joins only each document's *prefix* — its
    first |A| - ceil(t·|A|) + 1 shingles under a fixed global shingle
    order. Prefix-filter lemma: any pair with Jaccard ≥ t must share a
    prefix shingle under ANY fixed total order, so the candidate set is
    a superset of the answer; candidates are then verified exactly via
    array_intersect. Same output as the naive full shingle self-join,
    but the join touches a ~(1-t) fraction of shingle rows.

    Shingles are hashed to 64-bit ``xxhash64`` longs right after the
    explode, so the df window, the per-document arrays, the prefix join
    and the verify all move 8-byte keys instead of n-gram strings. The
    result is exact unless two distinct shingles collide: with S
    distinct shingles the expected number of colliding pairs is about
    S²/2⁶⁵ (~3·10⁻⁶ at S = 10⁷), and a collision can only perturb the
    Jaccard of pairs that touch a document holding one of the two
    shingles.

    ``prefix_order``:
    - ``"df"`` (default): document-frequency ascending — one extra
      window exchange, but prefixes hold the globally rarest shingles,
      so far fewer candidates reach the exact-verify stage (the gap
      widens on skewed corpora where boilerplate shingles are hot).
    - ``"lex"``: ascending hash value — the prefix is a plain ``slice``
      of the sorted array and candidate generation adds no shuffle
      beyond the one groupBy. ``max_df`` caps hot shingles in either
      mode.

    ``max_df`` defaults ON (100k; callers needing exactness must pass
    ``max_df=None``): prefix filtering reduces but does not eliminate
    hot-shingle skew — boilerplate/license-header shingles sit in many
    documents' prefixes at t=0.8, and one shingle present in M docs
    alone contributes ~M²/2 candidate pairs. Dropping a hot shingle
    shrinks |A| for *every* document that held it, so the Jaccard of
    every pair touching such a document is perturbed (it can only
    increase — the union shrinks at least as much as the intersection),
    and borderline pairs may newly cross the threshold; treat the
    result as approximate whenever the cap fires. Below the cap it is
    exact: when the corpus has ≤ max_df rows the df pass is skipped
    entirely (no extra aggregation).

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard to 6dp.
    """
    if prefix_order not in ("lex", "df"):
        raise ValueError(f"prefix_order must be 'lex' or 'df', got {prefix_order!r}")
    sh = _shingle_table(df, id_col, text_col, n, max_df, n_docs=n_docs)
    sh = sh.select("_id", F.xxhash64("_s").alias("_s"))
    # The per-document arrays feed three consumers (the prefix explode
    # and both sides of the verify join); materialized once, the corpus
    # is scanned, split and exploded once and the collect_list
    # aggregate runs once instead of once per consumer.
    docs = _doc_shingle_arrays(sh, order=prefix_order).localCheckpoint()
    prefix_len = F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1
    # The set size rides through the prefix explode for the ppjoin
    # length filter: J(A,B) ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t (intersection is
    # bounded by min size, union by max), pruning candidates before the
    # distinct.
    prefix = docs.select(
        "_id", "_sz", F.explode(F.slice("_arr", F.lit(1), prefix_len.cast("int"))).alias("_s")
    )
    cand = (
        prefix.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_pa"), "_s")
        .join(prefix.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_pb"), "_s"), "_s")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("_pb") * F.lit(threshold) <= F.col("_pa"))
            & (F.col("_pa") * F.lit(threshold) <= F.col("_pb"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_pairs(cand, docs, threshold)


def _check_banding(num_hashes: int, bands: int) -> None:
    """LSH banding must tile the signature exactly. bands > num_hashes
    makes rows_per_band 0 — every band hash degenerates to md5('') and
    the candidate join becomes a full cross product; a non-divisible
    split silently ignores the trailing hashes (quietly lower recall
    than the caller configured). Both are config errors, not modes."""
    if bands < 1 or bands > num_hashes:
        raise ValueError(
            f"bands must be in [1, num_hashes={num_hashes}], got {bands} "
            f"(bands > num_hashes degenerates every band hash to a "
            f"constant — an all-pairs candidate join)"
        )
    if num_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} exactly "
            f"(a remainder would silently drop the trailing "
            f"{num_hashes % bands} hashes from banding)"
        )


def _band_explode_sql(num_hashes: int, bands: int) -> str:
    """``explode(array(struct(band, bh), ...))`` over the h0..h{k-1}
    signature columns as ONE parsed SQL string — band hash = md5 of the
    '|'-joined row minhashes, the exact oracle construction. Built as a
    string for the same reason as :func:`_minhash_aggs`: the Column
    form cost ~10 JVM round trips per band."""
    rows_per_band = num_hashes // bands
    structs = []
    for b in range(bands):
        parts = ", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
        structs.append(f"named_struct('band', {b}, 'bh', md5(concat_ws('|', {parts})))")
    return f"explode(array({', '.join(structs)}))"


def _minhash_aggs(num_hashes: int) -> list[Column]:
    """The k min-hash aggregate columns h_i = min over shingles of
    md5(i || ':' || shingle): whole-stage-codegen'd md5 + map-side
    partial min, so a shuffle carries one k-column row per (partition,
    doc). (An array_min/transform formulation over per-doc shingle
    arrays was measured 2× slower — higher-order functions evaluate
    interpreted, outside codegen.) Each agg is ONE parsed SQL string
    (the simhash py4j lesson: Column composition costs a JVM round
    trip per operator — ~5 per hash column here, ~80 per call site)."""
    return [
        F.expr(f"min(md5(concat('{i}:', _s)))").alias(f"h{i}")
        for i in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """k deterministic min-hashes per document. md5-seeding makes the
    signature reproducible across engines (the DuckDB oracle computes
    the identical signature) and across cluster runs — no RNG to seed.
    One groupBy pass computes all k columns."""
    sh = _shingle_table(df, id_col, text_col, n, None)
    return sh.groupBy(F.col("_id").alias(id_col)).agg(*_minhash_aggs(num_hashes))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash + LSH banding + exact-Jaccard verification.

    Candidate pairs = docs sharing any band hash (band = md5 of its
    rows' concatenated min-hashes) — a linear group-by, never a
    pairwise pass. Candidates are then verified with exact Jaccard
    (array_intersect over the per-doc shingle arrays, O(|candidates|)),
    so no LSH false positives leak through. Returns
    (id_a, id_b, jaccard), id_a < id_b.

    Map-side-combined signatures, candidate-only verify:
    - the signature branch aggregates the shingle stream with full
      map-side combine: the shuffle carries k min-hash columns per
      (partition, doc), not the raw (id, shingle) rows;
    - the verify branch first SEMI-JOINs the shingles down to documents
      that appear in a candidate pair, so the collect_list aggregation
      shuffles only the candidate docs' shingles — O(candidates), not
      O(corpus).
    The two branches each recompute the codegen'd scan→split→explode
    rather than share a materialized shingle stream, which is several
    times the size of the column-pruned text. The small candidate table
    is materialized (it feeds the id semi-join and the verify join, and
    recomputing it reruns the signature and bucket-join pipeline):
    on the 5k-document growth corpus (4 cores) that read 2.57 s per
    warm call against 3.19 s without, 8 of 8 interleaved pairs.
    """
    _check_banding(num_hashes, bands)
    sh = _shingle_table(df, id_col, text_col, n, None)
    sigs = sh.groupBy("_id").agg(*_minhash_aggs(num_hashes))
    buckets = sigs.select("_id", F.expr(_band_explode_sql(num_hashes, bands)).alias("b")).select(
        "_id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    left = buckets.select(F.col("_id").alias("id_a"), "band", "bh")
    right = buckets.select(F.col("_id").alias("id_b"), "band", "bh")
    cand = (
        left.join(right, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint()
    )
    cand_ids = (
        cand.select(F.explode(F.array("id_a", "id_b")).alias("_id")).distinct()
    )
    docs = _doc_shingle_arrays(sh.join(cand_ids, "_id", "left_semi"))
    return _verify_pairs(cand, docs, threshold)


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3, bits: int = 64) -> DataFrame:
    """Per-document SimHash signature over n-gram shingles (default 64-bit,
    the standard width — Manku et al., WWW'07).

    bit b of the signature = majority vote of bit b across
    md5-derived shingle hashes (sum of ±1 ≥ 0). The shingle hash takes
    two 32-bit halves from the md5 hex digest (chars 1-8 and 9-16) via
    base-16 conv — never composing one u64, which would overflow signed
    BIGINT in either engine; bits 0-31 vote from the low half, 32-63
    from the high half. Bit 63 of the assembled signature is the two's-
    complement sign term (-2^63), so addition of disjoint bit values
    stays exact in both Spark and the DuckDB oracle.
    One groupBy computes all bit sums (codegen'd, map-side combine —
    measured faster than aggregate() folds over per-doc arrays, which
    evaluate interpreted outside whole-stage codegen)."""
    if bits not in (32, 64):
        raise ValueError(f"bits must be 32 or 64, got {bits}")
    sh = _shingle_table(df, id_col, text_col, n, None)
    # Wide generated expressions are built as SQL strings and parsed in one
    # JVM call each (F.expr): composing them as Column objects costs one
    # py4j round-trip per operator — measured ~3 s of driver time per plan
    # at 64 bits, vs ~50 ms for string parsing. Execution is identical.
    # The md5/conv halves are hoisted into their own projection so each
    # shingle row hashes ONCE; the 64 bit-probes below then reference
    # two bigint attributes instead of repeating the conv(md5()) tree 64
    # times — smaller expression tree (faster analysis + codegen) and no
    # reliance on runtime subexpression elimination (~20% on the
    # signature stage at sf0.1).
    sh = sh.select(
        "_id",
        F.expr("CAST(conv(substring(md5(_s), 1, 8), 16, 10) AS BIGINT)").alias("_lo"),
        F.expr("CAST(conv(substring(md5(_s), 9, 8), 16, 10) AS BIGINT)").alias("_hi"),
    )

    def bit_of(b: int) -> str:
        src, shift = ("_lo", b) if b < 32 else ("_hi", b - 32)
        return f"(shiftright({src}, {shift}) & 1)"

    # Vote counters packed 3-per-long in 21-bit lanes: ~22 aggregation
    # buffers instead of 64. Exact as long as a doc has < 2^21 (~2M)
    # shingles — beyond that a lane would carry into its neighbor; even
    # 1 MB documents sit well under the cap.
    lanes, lane_bits = 3, 21
    n_packs = (bits + lanes - 1) // lanes
    packs = []
    for j in range(n_packs):
        terms = [
            f"shiftleft({bit_of(b)}, {lane * lane_bits})"
            for lane in range(lanes)
            if (b := j * lanes + lane) < bits
        ]
        packs.append(F.expr(f"sum({' + '.join(terms)})").alias(f"p{j}"))
    votes = sh.groupBy(F.col("_id").alias(id_col)).agg(F.count("*").alias("n_sh"), *packs)

    # majority vote: sum(+-1) >= 0  <=>  2*count_ones >= n_shingles
    lane_mask = (1 << lane_bits) - 1
    sig_terms = []
    for b in range(bits):
        j, lane = b // lanes, b % lanes
        cnt = f"(shiftright(p{j}, {lane * lane_bits}) & {lane_mask})"
        val = "-9223372036854775807 - 1" if b == 63 else str(2**b)
        sig_terms.append(
            f"(CASE WHEN {cnt} * 2 >= n_sh THEN CAST({val} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    return votes.select(id_col, F.expr(" + ".join(sig_terms)).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bits: int = 64,
    max_hamming: int = 3,
    block_bits: int = 16,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ max_hamming.

    Pair generation is blocked on ``block_bits``-wide signature slices
    (pigeonhole: at distance ≤ 3 over bits/block_bits ≥ 4 blocks, at
    least one block is identical). Default 64-bit signatures in 4×16-bit
    blocks give 65,536 join keys per position — the within-bucket
    self-join stays near-linear at 1e9+ docs, unlike 8-bit byte blocking
    (256 keys/position), which goes quadratic within buckets at ≥1e8
    docs. The (pos, block) groupBy/join is one linear shuffle."""
    sig = simhash(df, id_col, text_col, n, bits)
    return hamming_pairs(sig, id_col, "simhash", bits, max_hamming, block_bits)


def hamming_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    bits: int = 64,
    max_hamming: int = 3,
    block_bits: int = 16,
) -> DataFrame:
    """All (id_a < id_b) pairs whose ``sig_col`` signatures differ in
    ≤ ``max_hamming`` bits — the shared banded-join core of
    :func:`simhash_pairs` (text) and ``multimodal.image_phash``
    (perceptual image hashes). COMPLETE by pigeonhole: a pair within
    distance d ≤ max_hamming < n_blocks shares at least one identical
    ``block_bits`` slice, so the (pos, block) equi-join loses nothing;
    the bit_count filter then exacts the distance. One linear shuffle,
    never an all-pairs product."""
    n_blocks = bits // block_bits
    if n_blocks <= max_hamming:
        raise ValueError(
            f"{n_blocks} blocks of {block_bits} bits cannot cover hamming<={max_hamming}: "
            "pigeonhole needs blocks > max_hamming"
        )
    mask = (1 << block_bits) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("pos"),
                # arithmetic shift then mask: identical low block_bits in
                # Spark and DuckDB regardless of sign extension.
                F.shiftright(F.col(sig_col), i * block_bits).bitwiseAND(F.lit(mask)).alias("chunk"),
            )
            for i in range(n_blocks)
        ]
    )
    keyed = sig_df.select(
        F.col(id_col).alias("_id"), F.col(sig_col).alias("_sig"), F.explode(chunks).alias("c")
    ).select("_id", "_sig", F.col("c.pos").alias("pos"), F.col("c.chunk").alias("chunk"))
    left = keyed.select(F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a"), "pos", "chunk")
    right = keyed.select(F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b"), "pos", "chunk")
    pairs = (
        left.join(right, ["pos", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        # exact-distance filter BEFORE the dedup exchange: a candidate
        # pair that fails the bit_count test is dropped map-side
        # instead of being shuffled once per shared block (filter and
        # distinct commute — guide §2.3, shuffle fewer bytes; the
        # distinct itself then dedups (id_a, id_b, hamming) where
        # hamming is functionally dependent on the pair).
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
    return pairs.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 30,
    local_solve_max_edges: int = 1_000_000,
) -> DataFrame:
    """Cluster assignment over a near-duplicate pair graph: each node
    gets the minimum id reachable from it (``rep``) — the canonical
    document its cluster deduplicates to. Returns (node, rep) once for
    every node with an edge to another node: duplicate and reversed
    pairs count once, and self-loops are dropped, so a node whose only
    pair is with itself is a singleton and, like every singleton, never
    enters the graph.

    The edge list is materialized once and counted. A near-dup pair
    graph is the survivor set of a similarity threshold, usually orders
    of magnitude smaller than the corpus, so when it holds at most
    ``local_solve_max_edges`` edges it is collected and solved by
    union-find on the driver: one collect instead of a few scheduled
    jobs per round. Pass ``local_solve_max_edges=0`` to force the
    distributed path.

    Distributed path: alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond"),
    which converge in O(log n) rounds whatever the graph's diameter.
    Each round is two groupBy+join passes over the edge list — linear
    shuffles, no driver-side graph. large-star points every node's
    LARGER neighbors at the minimum of its neighborhood (itself
    included); small-star does the same for smaller-or-equal neighbors
    on min-oriented edges. The fixed point is a star per component,
    rooted at its minimum id.
    """
    # Invariant: every stored edge is max→min oriented (a > b). The
    # initial normalization establishes it; each round's construction
    # preserves it (large-star emits (v, m) with v > u ≥ m; small-star
    # emits (v, _mn) with v ≥ _mn and (u, _mn) with u > _mn, equalities
    # filtered). One orientation means set comparisons and the terminal
    # reps extraction need no greatest/least re-normalization.
    edges = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("a"),
            F.least(F.col(id_a), F.col(id_b)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    if edges.count() <= local_solve_max_edges:
        return _union_find_components(edges)

    all_nodes = edges.select(F.col("a").alias("node")).unionByName(
        edges.select(F.col("b").alias("node"))
    ).distinct()
    # Unresolved Columns bind by name at analysis, so one set serves
    # every round; multi-expression projections parse as SQL strings —
    # one JVM round trip each instead of one per col/alias/op.
    min_v = F.min("v").alias("_mn")
    agg_out = F.sum("s").alias("_out")
    agg_roles = F.count_distinct("s").alias("_roles")
    for _ in range(max_iterations):
        # large-star over the bidirected neighbor lists. Duplicates
        # produced mid-round change no min() and the round's one
        # distinct removes them.
        bi = edges.selectExpr("a AS u", "b AS v").unionByName(
            edges.selectExpr("b AS u", "a AS v")
        )
        mins = bi.groupBy("u").agg(min_v)
        large = (
            bi.join(mins, "u")
            .filter("v > u")
            .selectExpr("v AS u", "least(_mn, u) AS v")
            .filter("u != v")
        )
        # small-star over the (already min-oriented) large-star output.
        smins = large.groupBy("u").agg(min_v)
        edges = (
            large.join(smins, "u")
            .selectExpr("v AS a", "_mn AS b")
            .unionByName(smins.selectExpr("u AS a", "_mn AS b"))
            .filter("a != b")
            .distinct()
            .localCheckpoint()
        )
        # Structural fixpoint test: under the max→min orientation an
        # edge set is a star forest iff every source has exactly one
        # outgoing edge and no target is itself a source — and a star
        # forest is the answer (rounds preserve components, and a
        # min-rooted star is invariant under both stars). One explode
        # emits both endpoint roles, so the census reads the round's
        # edges once.
        roles = edges.selectExpr(
            "explode(array(named_struct('n', a, 's', 1), "
            "named_struct('n', b, 's', 0))) AS _r"
        ).selectExpr("_r.n AS n", "_r.s AS s")
        bad = roles.groupBy("n").agg(agg_out, agg_roles).filter("_out > 1 OR _roles > 1")
        if bad.isEmpty():
            break
    # star edges point node -> root; roots map to themselves
    reps = edges.select(F.col("a").alias("node"), F.col("b").alias("rep"))
    return all_nodes.join(reps, "node", "left").select(
        "node", F.coalesce(F.col("rep"), F.col("node")).alias("rep")
    )


def _union_find_components(edges: DataFrame) -> DataFrame:
    """(node, rep) for a small (a, b) edge list, solved on the driver
    and returned as a local relation (``io.local_frame``)."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges.collect():
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the min label of the set
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    id_type = edges.schema[0].dataType
    schema = StructType([StructField("node", id_type, False), StructField("rep", id_type, False)])
    return local_frame(edges.sparkSession, [(n, find(n)) for n in parent], schema)


def canonical_docs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Materialize the deduplicated corpus: keep every document except
    non-canonical members of a near-duplicate cluster (nodes whose
    cluster rep — the minimum reachable doc id — is a different doc).
    Singletons and the cluster representative survive untouched.

    This is the terminal step of the dedup pipeline:
    ``ngram_jaccard_pairs`` / ``minhash_lsh_pairs`` → pair graph →
    ``connected_components`` → drop-list → anti-join.

    Scale notes (100 TB): the drop-list is |corpus| × dup-rate rows of a
    single id column — typically orders of magnitude smaller than the
    corpus, so AQE plans the anti-join as a broadcast; when the dup rate
    is high it degrades gracefully to a shuffled anti-join on the id
    key. Either way the corpus is scanned once with no wide rows
    shuffled.
    """
    drop = (
        connected_components(pairs, id_a=id_a, id_b=id_b)
        .filter(F.col("rep") != F.col("node"))
        .select(F.col("node").alias(id_col))
    )
    return docs.join(drop, id_col, "left_anti")


def contamination_scores(
    corpus: DataFrame,
    testset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    broadcast_testset: bool = True,
) -> DataFrame:
    """Benchmark-decontamination scores: for each corpus document, the
    fraction of its word n-gram shingles that appear anywhere in the
    held-out test set (``containment``). A doc with high containment
    embeds test material and must not be trained on.

    Returns (id, n_shingles, n_hits, containment) for every corpus doc
    that has at least one shingle (docs shorter than ``n`` tokens have
    no shingles and are trivially clean).

    Scale notes (100 TB): benchmark sets are tiny next to a training
    corpus, so the distinct test-shingle set is broadcast — the corpus
    shingle stream is probed map-side with no shuffle of corpus text.
    Set ``broadcast_testset=False`` when the test set is itself huge;
    the join then shuffles on the shingle key, still linear.
    """
    sh_c = _shingle_table(corpus, id_col, text_col, n, None)
    sh_t = _shingle_table(testset, id_col, text_col, n, None).select("_s").distinct()
    sh_t = sh_t.withColumn("_hit", F.lit(1))
    if broadcast_testset:
        sh_t = F.broadcast(sh_t)
    # ONE aggregation pass over the corpus shingle stream (r15): a LEFT
    # join attaches the membership marker, then count(*) / count(_hit)
    # give n_shingles and n_hits together. The previous form aggregated
    # the stream twice (sz + hits) and outer-joined the two censuses —
    # one extra corpus-wide aggregation + one shuffle join for nothing
    # (guide §2.3 "aggregate before you shuffle", §2.4).
    return (
        sh_c.join(sh_t, "_s", "left")
        .groupBy("_id")
        .agg(F.count("*").alias("n_shingles"), F.count("_hit").alias("n_hits"))
        .select(
            F.col("_id").alias(id_col),
            "n_shingles",
            "n_hits",
            (F.col("n_hits") / F.col("n_shingles")).alias("containment"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    testset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    broadcast_testset: bool = True,
) -> DataFrame:
    """Drop corpus documents whose test-set shingle containment is at
    or above ``threshold`` (see ``contamination_scores``)."""
    drop = (
        contamination_scores(
            corpus, testset, id_col, text_col, n, broadcast_testset
        )
        .filter(F.col("containment") >= threshold)
        .select(id_col)
    )
    return corpus.join(drop, id_col, "left_anti")


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide line/paragraph dedup (the C4/RefinedWeb "remove
    duplicated lines across documents" pass): every distinct line keeps
    ONLY its first occurrence — ordered by (doc id, position) — and
    every other copy, in the same document or any other, is dropped.
    Documents are reassembled in original line order; documents whose
    every line was a duplicate come back with empty text.

    ``sep`` is a LITERAL separator (regex-escaped before the split, so
    ``sep="."`` or ``"|"`` splits on the character, not per-char), and
    the same literal rejoins kept lines. Blank/whitespace-only lines
    are dropped from EVERY document — including documents with no
    duplicates — so reassembled text never carries empty segments;
    pass-through of blank structure is deliberately out of scope (C4
    drops such lines anyway).

    Skew-safe by construction: first-occurrence is
    ``groupBy(line_hash).agg(min(struct(id, pos)))`` — a map-side
    combinable aggregate, so a boilerplate line present in millions of
    documents collapses to one row per partition before the exchange
    (a window over the line key would put the hot line's entire
    posting list in one task). Two shuffles total (first-occurrence
    agg + reassembly groupBy); the join back to line rows is on the
    line hash with partial-agg'd cardinality.
    """
    import re

    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias("_pos", "_line"),
    ).filter(F.trim(F.col("_line")) != "")
    keyed = lines.withColumn("_k", F.md5(F.trim(F.col("_line"))))
    firsts = keyed.groupBy("_k").agg(
        F.min(F.struct(F.col("_id").alias("i"), F.col("_pos").alias("p"))).alias("_first")
    )
    kept = keyed.join(firsts, "_k").filter(
        (F.col("_id") == F.col("_first.i")) & (F.col("_pos") == F.col("_first.p"))
    )
    rebuilt = kept.groupBy("_id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
        ).alias("_text")
    )
    return docs.select(F.col(id_col), F.col(text_col)).join(
        rebuilt.select(F.col("_id").alias(id_col), "_text"), id_col, "left"
    ).select(
        id_col, F.coalesce(F.col("_text"), F.lit("")).alias(text_col)
    )


def repeated_ngram_sites(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 8,
    keep: str | None = "first",
) -> DataFrame:
    """Every token position starting a ``min_len``-token window whose
    fingerprint occurs at ≥ 2 sites corpus-wide — the detection core of
    exact substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", token-level posture: any
    duplicated run of ≥ min_len tokens is found through its
    length-min_len sub-windows). Returns (id, pos) flagged sites,
    0-based token positions.

    ``keep="first"``: the lexicographically-first site (doc id, pos) of
    each fingerprint is NOT flagged, so stripping flagged sites leaves
    exactly one copy of every duplicated run in the corpus.
    ``keep=None`` flags every site of a duplicated window (detection /
    audit mode).

    Scale shape: one corpus scan → positional window explode (O(tokens)
    rows, each fingerprinting min_len tokens via a codegen'd
    md5(concat_ws(slice)) — no Python); one map-side-combinable groupBy
    on the fingerprint (count + min site — boilerplate present in
    millions of docs partial-aggregates before it shuffles); one join
    back on the fingerprint key. Fingerprints are md5 of the
    US-join of the window's tokens — deterministic across engines,
    runs and cluster sizes."""
    tk_all = _tokens_table(docs, id_col, text_col)
    return _flagged_sites(tk_all, min_len, keep).select(
        F.col("_id").alias(id_col), F.col("_p").alias("pos")
    )


def _tokens_table(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, _tk) tokenized corpus, materialized ONCE (lazy
    localCheckpoint): the substring-dedup pipeline consumes the token
    arrays from several branches (window fingerprints, positional
    token explode, final doc roster) whose differing projections defeat
    ReuseExchange — without the cache the corpus was scanned+tokenized
    up to 4×."""
    t = docs.select(F.col(id_col).alias("_id"), tx.tokens(F.col(text_col)).alias("_tk"))
    return t.localCheckpoint(eager=False)


def _flagged_sites(tk_all: DataFrame, min_len: int, keep: str | None) -> DataFrame:
    """Flagged (_id, _p) duplicate-window sites over a
    :func:`_tokens_table`. The fingerprint table itself is also
    double-consumed (the corpus-wide groupBy AND the join back), so it
    materializes lazily too — the O(tokens) md5 window explode runs
    once."""
    if keep not in ("first", None):
        raise ValueError(f"keep must be 'first' or None, got {keep!r}")
    sites = (
        tk_all.filter(F.size("_tk") >= min_len)
        .select(
            "_id",
            "_tk",
            F.explode(F.sequence(F.lit(0), F.size("_tk") - min_len)).alias("_p"),
        )
        .select(
            "_id",
            "_p",
            F.md5(
                F.concat_ws("\x1f", F.slice("_tk", F.col("_p") + 1, min_len))
            ).alias("_fp"),
        )
    )
    sites = sites.localCheckpoint(eager=False)
    grouped = sites.groupBy("_fp").agg(
        F.count("*").alias("_cnt"),
        F.min(F.struct(F.col("_id").alias("i"), F.col("_p").alias("p"))).alias("_first"),
    )
    flagged = sites.join(grouped.filter(F.col("_cnt") >= 2), "_fp")
    if keep == "first":
        flagged = flagged.filter(
            (F.col("_id") != F.col("_first.i")) | (F.col("_p") != F.col("_first.p"))
        )
    return flagged.select("_id", "_p")


def repeated_ngram_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 8,
    keep: str | None = None,
) -> DataFrame:
    """Maximal duplicated token spans per document: flagged window
    starts (see :func:`repeated_ngram_sites`) merged into maximal
    [start_tok, end_tok) intervals — overlapping and adjacent windows
    coalesce, so a duplicated run of any length ≥ min_len reports as
    ONE span. Returns (id, start_tok, end_tok, n_tokens), end
    exclusive. Default ``keep=None`` (audit mode: every duplicated
    span, first occurrences included).

    The merge is two bounded windows per document (running max of span
    ends → gap flags → running sum = span group), then one groupBy —
    per-doc state only, no corpus-wide sort."""
    from pyspark.sql import Window

    sites = repeated_ngram_sites(docs, id_col, text_col, min_len, keep)
    spans = sites.select(
        id_col, F.col("pos").alias("_s"), (F.col("pos") + min_len).alias("_e")
    )
    w = Window.partitionBy(id_col).orderBy("_s")
    prev_end = F.max("_e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    grp = F.sum(
        F.when(prev_end.isNull() | (F.col("_s") > prev_end), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        spans.withColumn("_g", grp)
        .groupBy(id_col, "_g")
        .agg(F.min("_s").alias("start_tok"), F.max("_e").alias("end_tok"))
        .select(
            id_col,
            "start_tok",
            "end_tok",
            (F.col("end_tok") - F.col("start_tok")).alias("n_tokens"),
        )
    )


def strip_repeated_ngrams(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 8,
) -> DataFrame:
    """Exact substring dedup, applied: remove every token covered by a
    duplicated ≥ min_len window EXCEPT the corpus-wide first occurrence
    of that window (first site by (doc id, position)). Documents come
    back whitespace-normalized (single spaces — the tokenizer's
    contract); docs shorter than min_len tokens or with no duplicated
    runs pass through token-identical. A fully-duplicated document
    returns empty text.

    Flagged token positions are the union of [p, p+min_len) over
    flagged starts — an O(flagged·min_len) explode on the sparse
    survivor set, never on the whole corpus. The corpus is scanned and
    tokenized ONCE (:func:`_tokens_table`): every branch — window
    fingerprints, positional token explode, final doc roster — replays
    the cached token arrays."""
    tk_all = _tokens_table(docs, id_col, text_col)
    sites = _flagged_sites(tk_all, min_len, keep="first")
    covered = sites.select(
        F.col("_id"),
        F.explode(F.sequence(F.col("_p"), F.col("_p") + min_len - 1)).alias("_pos"),
    ).distinct()
    toks = tk_all.select("_id", F.posexplode("_tk").alias("_pos", "_tok"))
    kept = toks.join(covered, ["_id", "_pos"], "left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_tok"))),
                lambda s: s["_tok"],
            ),
        ).alias("_text")
    )
    return tk_all.select("_id").join(rebuilt, "_id", "left").select(
        F.col("_id").alias(id_col), F.coalesce(F.col("_text"), F.lit("")).alias(text_col)
    )
