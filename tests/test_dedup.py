"""Dedup operator unit tests (the oracle harness covers end-to-end
values; these pin operator-level contracts)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from electrician_spark.io import read_table
from electrician_spark.operators import dedup
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return read_table(spark, SF_SMOKE, "documents")


def _pairs(df):
    return {(r.id_a, r.id_b, r.jaccard) for r in df.collect()}


def test_prefix_orders_equivalent(spark, docs):
    """lex and df prefixes are different blockings of the SAME exact
    join — outputs must be identical (prefix-filter lemma holds for any
    fixed global order)."""
    lex = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.8, prefix_order="lex"))
    dfo = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.8, prefix_order="df"))
    assert lex == dfo


def test_bad_prefix_order_rejected(spark, docs):
    with pytest.raises(ValueError, match="prefix_order"):
        dedup.ngram_jaccard_pairs(docs, prefix_order="nope")


def test_lsh_pairs_subset_of_exact(spark, docs):
    """LSH candidates are verified exactly, so every emitted pair must
    also appear in the exhaustive exact join (no false positives)."""
    exact = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.8))
    lsh = _pairs(dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4, threshold=0.8))
    assert lsh <= exact


def test_exact_dedup_keeps_one_per_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "hello  world"), (2, "Hello World"), (3, "other text")], "id long, text string"
    )
    out = dedup.exact_dedup(df, keep_col="id")
    kept = sorted(r.id for r in out.collect())
    assert kept == [1, 3]  # case/whitespace-normalized dupes collapse, min id wins


def test_max_df_guards_hot_shingles(spark):
    # every doc shares the hot shingle; with max_df it can't generate
    # candidates on its own
    rows = [(i, f"common shingle here unique{i} a b") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup._shingle_table(df, "doc_id", "text", 3, max_df=3)
    hot = sh.filter(F.col("_s") == "common shingle here").count()
    assert hot == 0


def test_connected_components_chain_and_cliques(spark):
    """Components must span chains (diameter > 2) and keep disjoint
    cliques apart; singletons never enter the graph."""
    from electrician_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long",
    )
    got = sorted((r.node, r.rep) for r in connected_components(pairs).collect())
    assert got == [(2, 2), (3, 2), (4, 2), (5, 2), (10, 10), (11, 10), (12, 10)]


def test_canonical_docs_keeps_reps_and_singletons(spark):
    from electrician_spark.operators.dedup import canonical_docs

    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(2, 3), (3, 4)], "id_a long, id_b long")
    kept = sorted(r.doc_id for r in canonical_docs(docs, pairs).collect())
    assert kept == [1, 2]  # singleton 1 + rep 2 survive; 3, 4 dropped


def test_decontaminate_drops_test_set_copies(spark):
    from electrician_spark.operators.dedup import contamination_scores, decontaminate

    testset = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # full copy
            (2, "completely unrelated words about spark engines here"),
            (3, "hi"),  # < 3 tokens: no shingles, trivially clean
        ],
        "doc_id long, text string",
    )
    scores = {r.doc_id: r.containment for r in contamination_scores(corpus, testset).collect()}
    assert scores[1] == 1.0 and scores[2] == 0.0 and 3 not in scores
    kept = sorted(r.doc_id for r in decontaminate(corpus, testset).collect())
    assert kept == [2, 3]


def test_connected_components_empty_pairs(spark):
    from electrician_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


def test_max_df_default_is_noop_on_fixtures(spark, docs):
    """The default guard (100k df) must not change output below the cap —
    identical pairs with the guard on (default) and off (None)."""
    guarded = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.8))
    unguarded = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.8, max_df=None))
    assert guarded == unguarded


def test_max_df_drops_boilerplate_pairs(spark):
    """Docs similar only through an over-cap boilerplate shingle stop
    pairing once the guard removes it."""
    # 6 docs share a boilerplate phrase; docs 0/1 are near-identical
    rows = [(0, "licensed under apache two point zero alpha beta gamma"),
            (1, "licensed under apache two point zero alpha beta delta")] + [
        (i, f"licensed under apache two point zero unique{i} u{i}a u{i}b u{i}c u{i}d u{i}e")
        for i in range(2, 8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lo = _pairs(dedup.ngram_jaccard_pairs(df, threshold=0.3, max_df=4))
    hi = _pairs(dedup.ngram_jaccard_pairs(df, threshold=0.3, max_df=None))
    lo_ids = {(a, b) for a, b, _ in lo}
    hi_ids = {(a, b) for a, b, _ in hi}
    assert (0, 1) in lo_ids  # genuine near-dup survives the guard
    assert lo_ids < hi_ids  # boilerplate-only pairs dropped


def test_prefix_and_length_filters_exact_vs_bruteforce(spark):
    """The blocked join (prefix filter + ppjoin length filter) must
    equal the unblocked O(n²) shingle-set Jaccard on a seeded corpus
    built to stress both filters: heavy size diversity (length filter
    boundaries, including pairs exactly AT the t·|A| = |B| bound via
    repeated-word docs), clusters of near-identical docs, and shared
    boilerplate prefixes."""
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(50)]
    rows = []
    doc_id = 0
    for c in range(12):  # near-dup clusters with ragged tails
        base = [rng.choice(vocab) for _ in range(rng.randint(5, 40))]
        for m in range(rng.randint(2, 4)):
            tail = [rng.choice(vocab) for _ in range(rng.randint(0, 3))]
            rows.append((doc_id, " ".join(base + tail)))
            doc_id += 1
    for _ in range(20):  # singletons of wildly different sizes
        rows.append((doc_id, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 120)))))
        doc_id += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    from electrician_spark.functions import text as tx

    arrs = docs.select(
        "doc_id", F.array_sort(tx.shingles(F.col("text"), 3)).alias("arr")
    ).filter(F.size("arr") > 0)
    a = arrs.select(F.col("doc_id").alias("id_a"), F.col("arr").alias("aa"))
    b = arrs.select(F.col("doc_id").alias("id_b"), F.col("arr").alias("ab"))
    inter = F.size(F.array_intersect(F.col("aa"), F.col("ab")))
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                inter / (F.size("aa") + F.size("ab") - inter), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )
    for order in ("lex", "df"):
        blocked = dedup.ngram_jaccard_pairs(
            docs, threshold=0.8, prefix_order=order, max_df=None
        )
        assert _pairs(blocked) == _pairs(brute), order


def _exact_jaccard_pairs(rows, n, threshold):
    """Every (id_a < id_b, jaccard) at or above ``threshold`` by plain
    set arithmetic over distinct word n-grams, rounded as Spark's
    round(x, 6) does (HALF_UP on the shortest decimal form)."""
    from decimal import ROUND_HALF_UP, Decimal

    sets = {}
    for i, text in rows:
        tk = text.split()
        sets[i] = {" ".join(tk[j:j + n]) for j in range(len(tk) - n + 1)}
    out = set()
    for x in sets:
        for y in sets:
            if x < y and sets[x] and sets[y]:
                inter = len(sets[x] & sets[y])
                j = inter / (len(sets[x]) + len(sets[y]) - inter)
                j = float(Decimal(repr(j)).quantize(Decimal("0.000001"), ROUND_HALF_UP))
                if j >= threshold:
                    out.add((x, y, j))
    return out


@settings(max_examples=8, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    n=st.sampled_from([2, 3]),
    threshold=st.sampled_from([0.5, 0.7, 0.8]),
)
def test_ngram_jaccard_pairs_equal_exact_python_jaccard(spark, seed, n, threshold):
    """Hashed shingles, both prefix orders and the materialized arrays
    must reproduce exact Jaccard on seeded corpora built from a small
    vocabulary with shared boilerplate, so df ties are common and the
    boilerplate shingles are hot."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(rng.randint(6, 30))]
    boiler = [[rng.choice(vocab) for _ in range(rng.randint(3, 8))] for _ in range(2)]
    rows = []
    for _ in range(rng.randint(3, 8)):  # clusters of near-identical docs
        base = [rng.choice(vocab) for _ in range(rng.randint(1, 25))]
        for _ in range(rng.randint(1, 4)):
            words = [w if rng.random() > 0.1 else rng.choice(vocab) for w in base]
            head = rng.choice(boiler) if rng.random() < 0.7 else []
            rows.append((len(rows), " ".join(head + words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = _exact_jaccard_pairs(rows, n, threshold)
    for order in ("lex", "df"):
        got = dedup.ngram_jaccard_pairs(
            docs, n=n, threshold=threshold, max_df=None, prefix_order=order
        )
        assert _pairs(got) == want, order


def _components(pairs, **kw):
    return {(r.node, r.rep) for r in dedup.connected_components(pairs, **kw).collect()}


def test_driver_solve_equals_distributed_components_on_hard_graphs(spark):
    """The driver union-find and the forced large-star/small-star path
    must produce the identical (node, rep) labeling on shapes that
    stress the rounds: a long chain (diameter >> log n), disjoint
    cliques, a star, and a seeded random graph with isolated pairs."""
    import random

    rng = random.Random(7)
    chains = [(i, i + 1) for i in range(100, 160)]  # one 61-node path
    cliques = [(a, b) for base in (300, 400) for a in range(base, base + 6)
               for b in range(a + 1, base + 6)]
    star = [(500, v) for v in range(501, 520)]
    randoms = [(rng.randint(600, 700), rng.randint(600, 700)) for _ in range(80)]
    edges = [(a, b) for a, b in chains + cliques + star + randoms if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    local = _components(pairs)
    distributed = _components(pairs, local_solve_max_edges=0)
    assert local == distributed
    # chain root check: every chain node labels to the chain minimum
    assert all(rep == 100 for node, rep in local if 100 <= node <= 160)


def test_components_drop_self_loops_and_duplicate_pairs(spark):
    """One contract on both paths: duplicate and reversed pairs count
    once, self-loops are dropped (a node paired only with itself is a
    singleton and never appears), and every node appears once."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (3, 3), (4, 4), (5, 4), (5, 5)],
        "id_a long, id_b long",
    )
    want = {(1, 1), (2, 1), (4, 4), (5, 4)}
    for kw in ({}, {"local_solve_max_edges": 0}):
        rows = dedup.connected_components(pairs, **kw).collect()
        assert len(rows) == len(want), kw
        assert {(r.node, r.rep) for r in rows} == want, kw


def test_line_dedup_keeps_first_occurrence_only(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha\nshared boilerplate\nbeta"),
            (2, "shared boilerplate\ngamma\ngamma"),
            (3, "shared boilerplate"),
            (4, "delta\n\n  \nepsilon"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text for r in dedup.line_dedup(docs).collect()}
    # first occurrence (doc 1, pos 1) wins; all other copies drop
    assert out[1] == "alpha\nshared boilerplate\nbeta"
    # cross-doc copy dropped; within-doc repeat ("gamma") also dedups
    assert out[2] == "gamma"
    # doc whose only line was a duplicate -> empty text, row preserved
    assert out[3] == ""
    # blank lines never count as content
    assert out[4] == "delta\nepsilon"
    assert set(out) == {1, 2, 3, 4}


def test_line_dedup_sep_is_literal_not_regex(spark):
    """sep is regex-escaped before the split: '.' must split on the
    period character (sentence-ish segments), not explode per char."""
    docs = spark.createDataFrame(
        [(1, "one two.shared tail"), (2, "shared tail.three")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text for r in dedup.line_dedup(docs, sep=".").collect()}
    assert out[1] == "one two.shared tail"
    assert out[2] == "three"


# ---------------------------------------------------------------------------
# Exact substring dedup (repeated ≥min_len token windows, Lee et al.)
# ---------------------------------------------------------------------------


def _py_flagged_sites(corpus: dict[int, str], L: int, keep="first"):
    """Plain-Python reference: all (doc, pos) sites of L-token windows
    occurring ≥2 times corpus-wide; keep='first' exempts the
    lexicographically-first site per window."""
    occ = {}
    for i in sorted(corpus):
        tk = corpus[i].split()
        for p in range(len(tk) - L + 1):
            occ.setdefault(tuple(tk[p : p + L]), []).append((i, p))
    flagged = set()
    for sites in occ.values():
        if len(sites) >= 2:
            ss = sorted(sites)
            flagged.update(ss[1:] if keep == "first" else ss)
    return flagged


_SUBSTR_CORPUS = {
    1: "the quick brown fox jumps over the lazy dog while rain falls softly",
    # doc 2 embeds doc 1's 8-token prefix (cross-doc duplicated run)
    2: "intro words the quick brown fox jumps over the lazy closing remark",
    # doc 3 repeats its own 8-token run twice (within-doc duplicate)
    3: "a b c d e f g h padding a b c d e f g h",
    4: "completely unique sentence with no overlap whatsoever in any window here",
    5: "short doc",  # under min_len: never fingerprinted
    # docs 6/7 share a 10-token run → three overlapping 8-windows in
    # doc 7 (starts 1,2,3) that must merge into one maximal span
    6: "one two three four five six seven eight nine ten",
    7: "prefix one two three four five six seven eight nine ten suffix",
}


def _substr_df(spark):
    return spark.createDataFrame(
        sorted(_SUBSTR_CORPUS.items()), "doc_id long, text string"
    )


def test_repeated_ngram_sites_match_reference(spark):
    df = _substr_df(spark)
    for keep in ("first", None):
        got = {
            (r.doc_id, r.pos)
            for r in dedup.repeated_ngram_sites(df, min_len=8, keep=keep).collect()
        }
        assert got == _py_flagged_sites(_SUBSTR_CORPUS, 8, keep)
    assert len(_py_flagged_sites(_SUBSTR_CORPUS, 8)) > 0


def test_repeated_ngram_spans_merge_maximally(spark):
    df = _substr_df(spark)
    spans = {
        (r.doc_id): (r.start_tok, r.end_tok, r.n_tokens)
        for r in dedup.repeated_ngram_spans(df, min_len=8, keep="first").collect()
    }
    # doc 2: exactly one duplicated 8-window (run is 8 tokens long)
    assert spans[2] == (2, 10, 8)
    # doc 7: 10-token duplicated run → windows at starts 1,2,3 merge
    # into ONE maximal [1, 11) span
    assert spans[7] == (1, 11, 10)
    # audit mode includes the first occurrence in doc 1
    audit = dedup.repeated_ngram_spans(df, min_len=8, keep=None)
    assert {r.doc_id for r in audit.collect()} >= {1, 2, 3}


def test_strip_repeated_ngrams_reconstruction(spark):
    """Stripped text must equal the Python reconstruction: drop every
    token covered by a flagged window, keep everything else in order."""
    df = _substr_df(spark)
    flagged = _py_flagged_sites(_SUBSTR_CORPUS, 8, "first")
    expect = {}
    for i, text in _SUBSTR_CORPUS.items():
        tk = text.split()
        covered = set()
        for (d, p) in flagged:
            if d == i:
                covered.update(range(p, p + 8))
        expect[i] = " ".join(t for j, t in enumerate(tk) if j not in covered)
    got = {r.doc_id: r.text for r in dedup.strip_repeated_ngrams(df, min_len=8).collect()}
    assert got == expect
    # the unique doc and the short doc pass through token-identical
    assert got[4] == _SUBSTR_CORPUS[4]
    assert got[5] == _SUBSTR_CORPUS[5]
    # every duplicated window keeps exactly one copy corpus-wide: doc 1
    # (first site) retains the full run, doc 2 lost it
    assert "the quick brown fox jumps over the lazy" in got[1]
    assert "the quick brown fox" not in got[2]


def test_repeated_ngram_random_corpus_vs_reference(spark):
    """Dense random corpus from a 6-word vocabulary (seeded): many
    overlapping collisions — sites must still match the reference
    exactly for several window lengths."""
    import random

    rng = random.Random(7)
    vocab = ["red", "blue", "green", "gold", "black", "white"]
    corpus = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 40)))
        for i in range(20)
    }
    df = spark.createDataFrame(sorted(corpus.items()), "doc_id long, text string")
    for L in (3, 5):
        got = {
            (r.doc_id, r.pos)
            for r in dedup.repeated_ngram_sites(df, min_len=L, keep="first").collect()
        }
        assert got == _py_flagged_sites(corpus, L, "first")
