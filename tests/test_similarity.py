"""Similarity-search operator tests.

The block-GEMM all-pairs plan must be *exactly* equivalent to the
naive theta-join reference (same pairs, same 4dp cosines), for any
block count — including blocks larger than the vector count (empty
block pairs) and blocks=1 (single diagonal group).
"""

import pytest
from pyspark.sql import functions as F

from electrician_spark.operators import similarity as sim

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    from electrician_spark.io import read_table

    return read_table(spark, SF_DIR, "embeddings")


def _pairs(df):
    return {(r.id_a, r.id_b): r.cos for r in df.collect()}


def test_gemm_matches_naive(spark, emb):
    naive = _pairs(sim.cosine_pairs_naive(emb, threshold=0.4))
    gemm = _pairs(sim.cosine_pairs(emb, threshold=0.4))
    assert naive == gemm
    assert len(naive) > 0


@pytest.mark.parametrize("blocks", [1, 3, 64])
def test_gemm_block_counts(spark, emb, blocks):
    base = _pairs(sim.cosine_pairs(emb, threshold=0.4, blocks=8))
    assert _pairs(sim.cosine_pairs(emb, threshold=0.4, blocks=blocks)) == base


def test_pairs_ordered_and_thresholded(spark, emb):
    rows = sim.cosine_pairs(emb, threshold=0.4).collect()
    for r in rows:
        assert r.id_a < r.id_b
        assert r.cos >= 0.4


def test_topk_rank_contract(spark, emb):
    out = sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == list(
            range(1, len(rows) + 1)
        )
        assert all(r.neighbor_id != q for r in rows)
        cs = [r.cos for r in sorted(rows, key=lambda r: r.rank)]
        assert cs == sorted(cs, reverse=True)


def test_kmeans_labels_total_and_deterministic(spark, emb):
    unlabeled = emb.drop("label")
    a = sim.kmeans_labels(unlabeled, k=3, iters=2)
    counts = {r["label_km"]: r["count"] for r in a.groupBy("label_km").count().collect()}
    assert sum(counts.values()) == unlabeled.count()  # every vector assigned once
    assert 1 <= len(counts) <= 3
    b = sim.kmeans_labels(unlabeled, k=3, iters=2)
    key = lambda df: sorted((r["vec_id"], r["label_km"]) for r in df.select("vec_id", "label_km").collect())
    assert key(a) == key(b)  # md5 seeding + fixed iters: no RNG anywhere


def test_kmeans_feeds_ivf_without_label_column(spark, emb):
    labeled = sim.kmeans_labels(emb.drop("label"), k=3, iters=1)
    out = sim.ivf_topk(labeled, labeled.filter(F.col("vec_id") < 3), k=2, label_col="label_km")
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    assert all(r["rank"] <= 2 for r in rows)


def test_ivf_nprobe_recall_monotone_and_exhaustive_equals_bruteforce(spark, emb):
    """Multi-probe contract: probing every partition IS brute force
    (identical pairs and 4dp cosines), and recall vs brute force is
    non-decreasing in nprobe."""
    queries = emb.filter(F.col("vec_id") < 5)
    n_parts = emb.select("label").distinct().count()
    truth = {
        (r.query_id, r.neighbor_id): r.cos for r in sim.cosine_topk(emb, queries, k=3).collect()
    }
    exhaustive = {
        (r.query_id, r.neighbor_id): r.cos
        for r in sim.ivf_topk(emb, queries, k=3, nprobe=n_parts).collect()
    }
    assert exhaustive == truth

    recalls = []
    for nprobe in (1, 2, n_parts):
        got = {
            (r.query_id, r.neighbor_id)
            for r in sim.ivf_topk(emb, queries, k=3, nprobe=nprobe).collect()
        }
        recalls.append(len(got & set(truth)) / len(truth))
    assert recalls == sorted(recalls)
    assert recalls[-1] == 1.0


def test_auto_blocks_matches_fixed_blocks(spark, emb):
    auto = _pairs(sim.cosine_pairs(emb, threshold=0.4, blocks=None, rows_per_block=7))
    fixed = _pairs(sim.cosine_pairs(emb, threshold=0.4, blocks=3))
    assert auto == fixed


def test_lsh_pairs_subset_of_exact_with_high_recall(spark, emb):
    """The LSH-prefiltered near-dup must have one-sided error: every
    emitted pair is in the exact set with the IDENTICAL 4dp cosine
    (the bucket-local GEMM computes true cosines), and the default
    (k=3, L=8) table family reaches ≥0.75 recall on the fixture at
    t=0.4 (pairs at the threshold boundary are the hardest case —
    collision probability p^k ≈ 0.25/table there)."""
    exact = _pairs(sim.cosine_pairs(emb, threshold=0.4))
    lsh = _pairs(sim.lsh_cosine_pairs(emb, threshold=0.4, blocks=1))
    assert set(lsh) <= set(exact)
    assert all(lsh[p] == exact[p] for p in lsh)
    recall = len(lsh) / len(exact)
    assert recall >= 0.75, f"recall {recall:.3f} ({len(lsh)}/{len(exact)})"
    # more tables -> recall grows monotonically toward 1
    wide = _pairs(sim.lsh_cosine_pairs(emb, threshold=0.4, n_tables=16, blocks=1))
    assert set(lsh) <= set(wide) <= set(exact)


def test_lsh_auto_blocks_matches_fixed(spark, emb):
    auto = _pairs(sim.lsh_cosine_pairs(emb, threshold=0.4, blocks=None, rows_per_block=40))
    fixed = _pairs(sim.lsh_cosine_pairs(emb, threshold=0.4, blocks=1))
    assert auto == fixed and len(auto) > 0


def test_hyperplane_sql_matches_expression_buckets(spark, emb):
    """hyperplane_bucket_sql (literal weights, the oracle-able form)
    must reproduce random_hyperplane_buckets' expression-computed
    buckets bit-for-bit — same md5 weight formula, same left-assoc
    summation, same sign rule."""
    expr_buckets = {
        r.vec_id: r.bucket for r in sim.random_hyperplane_buckets(emb, n_planes=4).collect()
    }
    sql_buckets = {
        r.vec_id: r.bucket
        for r in emb.selectExpr(
            "vec_id",
            sim.hyperplane_bucket_sql("embedding", [0, 1, 2, 3], 64, "spark") + " AS bucket",
        ).collect()
    }
    assert sql_buckets == expr_buckets


# ---------------------------------------------------------------------------
# SemDeDup (cluster-local near-dup → star CC → canonical keep)
# ---------------------------------------------------------------------------


def test_semantic_pairs_k1_exact(spark, emb):
    """One cluster = no partitioning: semantic_pairs must equal the
    exact all-pairs GEMM bit-for-bit (same pairs, same 4dp cosines)."""
    exact = _pairs(sim.cosine_pairs(emb, threshold=0.4, blocks=None, rows_per_block=64))
    sem = _pairs(sim.semantic_pairs(emb, threshold=0.4, k=1, rows_per_block=64))
    assert sem == exact and len(exact) > 0


def test_semantic_pairs_subset_of_exact(spark, emb):
    """k>1: one-sided error — every emitted pair is in the exact set
    with the identical cosine; only cross-cluster pairs may be missed,
    and dedup-grade duplicates (cos≥0.9) should survive clustering."""
    exact = _pairs(sim.cosine_pairs(emb, threshold=0.4))
    sem = _pairs(sim.semantic_pairs(emb, threshold=0.4, k=4))
    assert len(sem) > 0
    assert set(sem) <= set(exact)
    assert all(sem[p] == exact[p] for p in sem)
    near_exact = {p for p, c in exact.items() if c >= 0.9}
    if near_exact:
        recall = len(set(sem) & near_exact) / len(near_exact)
        assert recall >= 0.8, f"high-cos recall {recall:.2f}"


def test_semantic_pairs_external_labels(spark, emb):
    """label_col reuses an existing partitioning and must equal running
    k-means with the same assignment (here: the label column the
    fixture already carries)."""
    via_label = _pairs(sim.semantic_pairs(emb, threshold=0.4, label_col="label"))
    exact = _pairs(sim.cosine_pairs(emb, threshold=0.4))
    assert len(via_label) > 0
    assert set(via_label) <= set(exact)
    assert all(via_label[p] == exact[p] for p in via_label)


def test_semantic_dedup_canonical_keep(spark, emb):
    """semantic_dedup(k=1) must equal the exact pipeline: connect exact
    pairs, drop every non-minimum member, keep everything else."""
    from electrician_spark.operators import dedup

    exact_pairs = sim.cosine_pairs(emb, threshold=0.4)
    comps = dedup.connected_components(exact_pairs)
    drop = {r.node for r in comps.filter(F.col("node") != F.col("rep")).collect()}
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}

    assert len(drop) > 0
    kept = {r.vec_id for r in sim.semantic_dedup(emb, threshold=0.4, k=1).collect()}
    assert kept == all_ids - drop
    # k>1 keeps at least as much (missed cross-cluster pairs → fewer drops)
    kept4 = {r.vec_id for r in sim.semantic_dedup(emb, threshold=0.4, k=4).collect()}
    assert kept <= kept4


def test_topk_gemm_matches_expression(spark, emb):
    """cosine_topk_gemm must reproduce cosine_topk exactly — same
    neighbors, same 4dp cosines, same ranks — across partition counts
    (local-top-k pruning must not lose 4dp ties)."""
    q = emb.filter(F.col("vec_id") < 8)
    base = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos)
        for r in sim.cosine_topk(emb, q, k=5).collect()
    }
    for parts in (1, 7):
        got = {
            (r.query_id, r.rank): (r.neighbor_id, r.cos)
            for r in sim.cosine_topk_gemm(emb.repartition(parts), q, k=5).collect()
        }
        assert got == base
    assert len(base) > 0


def test_ivf_gemm_matches_expression(spark, emb):
    """ivf_topk_gemm must reproduce ivf_topk exactly for several
    nprobe values and partition counts — same probed cells (identical
    Spark-computed centroids, same routing tie-break), same neighbors,
    cosines and ranks."""
    q = emb.filter(F.col("vec_id") < 8)
    for nprobe in (1, 2, 3):
        base = {
            (r.query_id, r.rank): (r.neighbor_id, r.cos)
            for r in sim.ivf_topk(emb, q, k=5, nprobe=nprobe).collect()
        }
        got = {
            (r.query_id, r.rank): (r.neighbor_id, r.cos)
            for r in sim.ivf_topk_gemm(emb.repartition(5), q, k=5, nprobe=nprobe).collect()
        }
        assert got == base and len(base) > 0


def test_quantized_search_composition(spark, emb):
    """The 4× memory lever composes with search: 8-bit quantize →
    dequantize → GEMM top-k recovers ≥80% of the float-precision
    neighbors (and ≥95% of top-1), demonstrating the int8 IVF working
    set the quantizer docstring promises."""
    from electrician_spark.operators import quantize as qz

    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk_gemm(emb, q, k=5).collect()
    }
    bounds = qz._bounds_row(qz.quantization_bounds(emb, "embedding"))
    deq = (
        qz.quantize_embeddings(emb, "embedding", bits=8)
        .crossJoin(F.broadcast(bounds))
        .select(
            "vec_id",
            qz.dequantize(
                F.col("embedding_q"), F.col("_q_lo"), F.col("_q_hi"), 8
            ).alias("embedding"),
        )
    )
    approx_rows = sim.cosine_topk_gemm(deq, q, k=5).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"top-5 recall {recall:.2f}"
    top1_exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_topk_gemm(emb, q, k=1).collect()
    }
    top1_approx = {(r.query_id, r.neighbor_id) for r in approx_rows if r.rank == 1}
    r1 = len(top1_exact & top1_approx) / len(top1_exact)
    assert r1 >= 0.9, f"top-1 recall {r1:.2f}"


def test_driver_collect_guard_rejects_oversized_query_sets(spark, emb, monkeypatch):
    # The GEMM paths collect the query/centroid sets ("broadcast-small
    # by contract") — the guard must turn a contract violation into a
    # clear error instead of a silent driver OOM.
    import pytest

    monkeypatch.setattr(sim, "MAX_DRIVER_ROWS", 3)
    with pytest.raises(ValueError, match="MAX_DRIVER_ROWS"):
        sim.cosine_topk_gemm(emb, emb.filter(F.col("vec_id") < 10), k=2).collect()
    with pytest.raises(ValueError, match="MAX_DRIVER_ROWS"):
        sim.ivf_topk_gemm(emb, emb.filter(F.col("vec_id") < 10), k=2).collect()
    with pytest.raises(ValueError, match="MAX_DRIVER_ROWS"):
        sim.kmeans_labels(emb, k=5)
    # within the cap the guarded paths still work
    monkeypatch.setattr(sim, "MAX_DRIVER_ROWS", 100_000)
    assert sim.cosine_topk_gemm(emb, emb.filter(F.col("vec_id") < 3), k=2).count() > 0
