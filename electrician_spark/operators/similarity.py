"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  The dot product is a single ``aggregate(zip_with(...))`` fold per
  pair: JVM-side, codegen'd, deterministic accumulation order (matches
  the oracle's sequential sum), no explode and no Python.
- ``ivf_topk``: the scale path — inverted-file (IVF) search: assign
  every vector to its nearest partition centroid, then search only the
  probed partition(s). Here centroids come from the ``label`` column
  (precomputed partition assignment); a k-means bootstrap would slot in
  the same plan. Cross-join cost drops from O(N·Q) to O(N·Q/partitions).
- ``random_hyperplane_buckets``: LSH bucketing with md5-derived
  deterministic hyperplanes — candidate generation without any
  pairwise work at all.

Scale notes (100 TB): queries are broadcast (Q is small); the corpus
side never shuffles for brute force. IVF adds one small centroid
cross-join (broadcast) + a partition-pruned join keyed on centroid id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from electrician_spark.io import local_frame


# Cap for "broadcast-small by contract" driver collects (query sets,
# IVF centroid tables). The GEMM paths ship these to every task in the
# UDF closure, so a caller that hands over a corpus-sized DataFrame
# would otherwise silently OOM the driver; instead the guard raises
# with a pointer to the distributed expression path. Module-level so a
# deployment with a fat driver can raise it once.
MAX_DRIVER_ROWS = 100_000


def _collect_bounded(df: DataFrame, what: str, expression_path: str) -> list:
    """collect() with a hard row cap — one job (limit cap+1), raising
    past the cap instead of materializing an unbounded result."""
    rows = df.limit(MAX_DRIVER_ROWS + 1).collect()
    if len(rows) > MAX_DRIVER_ROWS:
        raise ValueError(
            f"{what} exceeds similarity.MAX_DRIVER_ROWS={MAX_DRIVER_ROWS} rows; "
            f"it is broadcast to every task and collected on the driver. Use "
            f"the distributed expression path ({expression_path}) for large "
            f"sets, or raise electrician_spark.operators.similarity.MAX_DRIVER_ROWS."
        )
    return rows


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_pairs_naive(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """All pairs with cosine ≥ threshold via a theta self-join with a
    per-pair expression dot product. O(N²) pairs each evaluating an
    interpreted higher-order fold — correctness reference only; use
    :func:`cosine_pairs` (block-GEMM) for anything beyond a few
    thousand vectors."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def _make_gemm(margin: float):
    """Pandas kernel factory for the blocked-GEMM cosine submatrix: one
    vectorized numpy matmul per group, threshold applied inside with a
    margin (the exact round(cos,4) >= t filter reruns Spark-side)."""
    import numpy as np
    import pandas as pd

    def _gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64"),
                              "_cos": pd.Series(dtype="float64")})
        a = pdf[pdf["_side"] == 0]
        b = pdf[pdf["_side"] == 1]
        if a.empty or b.empty:
            return empty
        A = np.vstack(a["_v"].to_numpy()).astype(np.float64)
        B = np.vstack(b["_v"].to_numpy()).astype(np.float64)
        na = np.sqrt((A * A).sum(axis=1))
        nb = np.sqrt((B * B).sum(axis=1))
        # dot/(|a||b|) (not pre-normalized vectors) to track the
        # sequential-oracle float semantics as closely as possible.
        S = (A @ B.T) / np.outer(na, nb)
        ia, ib = np.nonzero(S >= margin)
        if ia.size == 0:
            return empty
        ids_a = a["_id"].to_numpy()[ia]
        ids_b = b["_id"].to_numpy()[ib]
        lo = np.minimum(ids_a, ids_b)
        hi = np.maximum(ids_a, ids_b)
        keep = lo < hi  # drop self-pairs (diagonal blocks see each vector on both sides)
        return pd.DataFrame(
            {"id_a": lo[keep], "id_b": hi[keep], "_cos": S[ia, ib][keep]}
        ).drop_duplicates(["id_a", "id_b"])

    return _gemm


def _grouped_gemm(
    rows: DataFrame,
    group_cols: list[str],
    threshold: float,
    blocks: int | None,
    rows_per_block: int,
) -> DataFrame:
    """Shared blocked-GEMM engine: score every within-group pair of
    ``rows`` (columns ``_id``, ``_v``, plus ``group_cols``) above
    ``threshold`` (minus the kernel margin). One group = one cosine
    submatrix = one BLAS matmul; groups larger than ``rows_per_block``
    are split into hash blocks and scored as B·(B+1)/2 block pairs, so
    task memory is bounded at ~rows_per_block² score cells no matter
    how skewed the grouping is. ``blocks=None`` auto-sizes from the
    max group occupancy (one cheap count job). Callers round / filter /
    dedup the raw (id_a, id_b, _cos) output. Backs the exact all-pairs
    path (no groups), the sign-LSH prefilter (bucket groups), and
    SemDeDup (cluster groups)."""
    import math

    spark = rows.sparkSession
    if blocks is None:
        if group_cols:
            mx = rows.groupBy(*group_cols).count().agg(F.max("count")).collect()[0][0]
        else:
            mx = rows.count()
        blocks = math.ceil((mx or 1) / max(1, rows_per_block))
    b_count = max(1, blocks)
    nv = rows.withColumn("_blk", F.pmod(F.hash(F.col("_id")), F.lit(b_count)))
    # the pa-side and pb-side grid joins each consume nv — without a
    # materialization the whole upstream plan (scan + bucket exprs)
    # runs twice. Lazy: no build-time job; the first action computes
    # the bucketed rows once and both join sides replay the cache.
    nv = nv.localCheckpoint(eager=False)
    grid = local_frame(
        spark, [(a, b) for a in range(b_count) for b in range(a, b_count)], "pa int, pb int"
    )
    rep_a = nv.join(F.broadcast(grid), nv["_blk"] == grid["pa"]).select(
        *group_cols, "pa", "pb", "_id", "_v", F.lit(0).alias("_side")
    )
    rep_b = nv.join(F.broadcast(grid), nv["_blk"] == grid["pb"]).select(
        *group_cols, "pa", "pb", "_id", "_v", F.lit(1).alias("_side")
    )
    both = rep_a.unionByName(rep_b)
    return both.groupBy(*group_cols, "pa", "pb").applyInPandas(
        _make_gemm(threshold - 1e-3), "id_a long, id_b long, _cos double"
    )


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    blocks: int | None = 8,
    rows_per_block: int = 4096,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-dup detection).
    Returns (id_a, id_b, cos) with id_a < id_b, cos rounded to 4dp.

    Plan: distributed blocked GEMM. Vectors are hashed into ``blocks``
    buckets; each of the B·(B+1)/2 upper-triangular block pairs becomes
    one group whose cosine submatrix is a single vectorized numpy
    matmul inside ``applyInPandas`` (Arrow-batched). Replication cost is
    O(N·B) rows — each vector is shipped to ≤ B+1 groups — while the
    O(N²·d) flops run at BLAS speed instead of one interpreted
    expression fold per pair. ``blocks=None`` auto-sizes from one cheap
    count: B = ceil(N / rows_per_block), bounding each block pair at
    ~rows_per_block² score cells (~128 MB of float64 at the 4096
    default) regardless of corpus size — the task-memory contract a
    fixed B silently breaks at 100× the data. The output stays sparse
    because the threshold filter applies inside the kernel (with a
    margin; the exact ``round(cos,4) ≥ t`` filter reruns Spark-side so
    results are identical to the naive plan)."""
    # No fan-out repartition here: the block-pair groupBy inside
    # _grouped_gemm already redistributes, and everything above it is a
    # cheap hash projection.
    rows = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    out = _grouped_gemm(rows, [], threshold, blocks, rows_per_block)
    return out.select(
        "id_a", "id_b", F.round(F.col("_cos"), 4).alias("cos")
    ).filter(F.col("cos") >= threshold)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k neighbors per query (self-matches
    excluded). Queries are broadcast; ranking is a window per query with
    deterministic (cos desc, neighbor id) tie-break.
    Returns (query_id, neighbor_id, cos, rank)."""
    from electrician_spark.io import fan_out_small

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = fan_out_small(corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def cosine_topk_gemm(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k at GEMM speed — the production form of
    :func:`cosine_topk`. The query set (small by contract) is shipped
    to every task as a numpy matrix; each corpus Arrow batch scores
    batch×Q cosines in one matmul and emits only its LOCAL top-k per
    query, so the shuffle carries ≤ k·partitions rows per query into
    one tiny global re-rank window. Same contract as cosine_topk:
    self-matches excluded, (cos desc, neighbor id) tie-break, cos to
    4dp; per-batch pruning keeps the same order, so results are
    identical whenever 4dp rounding is stable (float64 matmul vs the
    expression fold — pinned by test on the fixtures).

    The expression form evaluates one interpreted HOF fold per
    (query, corpus) pair — N·Q·d lambda steps; this runs the identical
    flops as BLAS and is the variant to reach for the moment N·Q grows
    past fixture scale."""
    import numpy as np
    import pandas as pd

    qrows = _collect_bounded(
        queries.select(id_col, vec_col), "query set", "cosine_topk"
    )
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)

    def _local_topk(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            C = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col].to_numpy()])
            Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
            S = Cn @ Qn.T  # batch × Q
            out_q, out_n, out_c = [], [], []
            for j in range(len(q_ids)):
                col = S[:, j].copy()
                col[ids == q_ids[j]] = -np.inf  # exclude self
                order = np.lexsort((ids, -col))
                kk = min(k, len(order))
                # widen the local cut by one 4dp rounding quantum: a
                # neighbor beyond local rank k can still tie the kth at
                # 4dp and win the global id tie-break — keep everything
                # within 1e-4 of the kth raw cosine so the global
                # re-rank (authoritative HALF_UP rounding) sees it.
                kth = col[order[kk - 1]] if kk else -np.inf
                sel = order[col[order] >= kth - 1.01e-4]
                keep = col[sel] > -np.inf
                out_q.append(np.full(int(keep.sum()), q_ids[j]))
                out_n.append(ids[sel][keep])
                out_c.append(col[sel][keep])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cos": np.concatenate(out_c),
                }
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        _local_topk, "query_id long, neighbor_id long, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("cos", F.round("cos", 4))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def label_centroids(df: DataFrame, label_col: str = "label", vec_col: str = "embedding") -> DataFrame:
    """Elementwise mean vector per label — the IVF coarse quantizer
    (posexplode → avg per (label, dim) → re-assemble sorted by dim)."""
    exploded = df.select(
        F.col(label_col).alias("cl"), F.posexplode(F.col(vec_col)).alias("dim", "v")
    )
    means = exploded.groupBy("cl", "dim").agg(F.avg(F.col("v").cast("double")).alias("m"))
    return means.groupBy("cl").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("dim"), F.col("m")))
        ).getField("m").alias("centroid")
    )


def _nearest_centroid_pandas(v: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Vectorized centroid assignment: one (batch×d)@(d×k) matmul per
    Arrow batch, argmax over cosine with the same tiebreak as the
    expression path (ties → lowest cluster id; np.argmax returns the
    first maximum and centroids are passed sorted by cl). The
    expression form costs k interpreted HOF cosines per vector —
    measured 80 s of an 80 s k=78 k-means assignment at 20k vectors,
    vs sub-second for the matmul. Use for production k; the expression
    path stays for oracle-replayable small-k plans (q_n3)."""
    import numpy as np
    import pandas as pd

    cents = sorted(cents)
    cl_ids = np.array([c for c, _ in cents], dtype=np.int64)
    C = np.array([vec for _, vec in cents], dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)

    def _assign(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.vstack(
                [np.asarray(x, dtype=np.float64) for x in pdf["_kv"].to_numpy()]
            )
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
            best = np.argmax(Vn @ Cn.T, axis=1)
            yield pd.DataFrame(
                {"_kid": pdf["_kid"], "_kv": pdf["_kv"], "cl": cl_ids[best]}
            )

    return v.mapInPandas(_assign, "_kid long, _kv array<double>, cl int")


def _nearest_centroid(v: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign every (_kid, _kv) row to its highest-cosine centroid;
    ties break on the lowest cluster id. Centroids are broadcast (k·d
    doubles), so the corpus never shuffles for assignment — the window
    ranks the k candidate rows per vector."""
    scored = v.join(F.broadcast(cents)).withColumn(
        "_ccos", cosine(F.col("_kv"), F.col("centroid"))
    )
    w = Window.partitionBy("_kid").orderBy(F.col("_ccos").desc(), F.col("cl"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("_kid", "_kv", "cl")
    )


def kmeans_labels(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label_km",
    round_dp: int = 6,
) -> DataFrame:
    """Deterministic k-means bootstrap for IVF — produces the partition
    ``label_col`` that :func:`ivf_topk` needs, for corpora with no
    precomputed assignment.

    Lloyd's algorithm with every source of nondeterminism removed so the
    result is engine-replayable (same clusters in Spark and a SQL
    oracle): seeds are the ``k`` vectors with the smallest
    ``md5(cast(id as string))`` (a deterministic pseudo-random draw —
    TakeOrderedAndProject top-k, no RNG, no global sort
    materialization); a *fixed* iteration count (no convergence test —
    a float-sensitive stopping rule could diverge across engines);
    per-dimension centroid means rounded to ``round_dp`` each iteration
    (damps cross-engine summation-order noise at the only place it
    could accumulate); assignment ties break on cluster id.

    Scale shape: centroids (k·d doubles) live on the driver between
    iterations — the canonical distributed Lloyd's. Each iteration is
    one broadcast-join assignment over the corpus plus one (cl, dim)
    aggregation; the corpus itself never collects and never shuffles
    for assignment. The iterative refinement in dedup.py (min-label
    propagation) uses the same bounded-rounds pattern.
    """
    if k > MAX_DRIVER_ROWS:
        raise ValueError(
            f"k={k} exceeds similarity.MAX_DRIVER_ROWS={MAX_DRIVER_ROWS}: "
            f"centroids live on the driver between Lloyd's iterations."
        )
    spark = df.sparkSession
    v = df.select(
        F.col(id_col).alias("_kid"), F.col(vec_col).cast("array<double>").alias("_kv")
    )
    # the seeds probe, every Lloyd's iteration (assign + means), and
    # the final assignment all consume this projection — materialize
    # once (executor-local) instead of re-scanning the source iters+2
    # times; what lands on disk is (id, vector), the columns Lloyd's
    # needs anyway.
    v = v.localCheckpoint(eager=False)
    seed_key = F.md5(F.col("_kid").cast("string"))
    seeds = v.orderBy(seed_key, "_kid").limit(k).collect()
    cents = [(i, list(r["_kv"])) for i, r in enumerate(seeds)]

    # k ≤ 8 keeps the engine-replayable expression assignment (the SQL
    # oracle for q_n3 replays it verbatim); production k vectorizes —
    # the k interpreted HOF cosines per vector cost ~80 s at k=78 on a
    # 20k corpus where the batched matmul is sub-second. Same tiebreak
    # (lowest cl on ties), float64 both ways.
    def _assign(cent_list):
        if k <= 8:
            cdf = local_frame(spark, cent_list, "cl int, centroid array<double>")
            return _nearest_centroid(v, cdf)
        return _nearest_centroid_pandas(v, cent_list)

    for _ in range(iters):
        assigned = _assign(cents)
        means = (
            assigned.select("cl", F.posexplode("_kv").alias("dim", "val"))
            .groupBy("cl", "dim")
            .agg(F.round(F.avg("val"), round_dp).alias("m"))
        )
        new_cents = (
            means.groupBy("cl")
            .agg(
                F.array_sort(F.collect_list(F.struct("dim", "m"))).getField("m").alias("centroid")
            )
            .collect()
        )
        # A cluster that loses all members is dropped (not re-seeded):
        # the simplest semantics a SQL replay reproduces — a GROUP BY
        # has no row for an empty cluster, so keeping/reviving it here
        # would diverge from any set-based oracle.
        cents = sorted((r["cl"], list(r["centroid"])) for r in new_cents)
    final = _assign(cents).select(
        F.col("_kid").alias(id_col), F.col("cl").cast("long").alias(label_col)
    )
    return df.join(final, id_col)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN: route each query to its ``nprobe`` nearest
    label-centroids, then brute-force only within those partitions.
    Returns (query_id, neighbor_id, cos, rank) — approximate: recall <
    1 when a true neighbor lives in an unprobed partition; raising
    nprobe trades scan cost for recall (the classic IVF knob). Each
    corpus vector belongs to exactly one partition, so the multi-probe
    union needs no dedup."""
    cents = label_centroids(corpus, label_col, vec_col)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    routed = (
        q.join(F.broadcast(cents))
        .select("query_id", "qv", "cl", cosine(F.col("qv"), F.col("centroid")).alias("ccos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("cl"))
    probe = routed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= nprobe).select(
        "query_id", "qv", "cl"
    )
    from electrician_spark.io import fan_out_small

    c = fan_out_small(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            F.col(label_col).alias("cl"),
        )
    )
    scored = c.join(F.broadcast(probe), "cl").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", F.round(cosine(F.col("qv"), F.col("cv")), 4).alias("cos"))
    w2 = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivf_topk_gemm(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    nprobe: int = 1,
) -> DataFrame:
    """:func:`ivf_topk` at GEMM speed — same contract, same probed
    cells, same (cos desc, id) tie-breaks. Routing happens driver-side
    (queries × centroids are both broadcast-small by contract; the
    centroids are the SAME Spark-computed `label_centroids` values, so
    probe decisions match the expression form), and each corpus Arrow
    batch scores only the queries probing its rows' cells with one
    matmul per (batch, cell). No join, no query-vector replication —
    the corpus is scanned exactly once and the shuffle carries only
    local top-k candidates (cut widened by one 4dp quantum so rounding
    ties survive, as in :func:`cosine_topk_gemm`). The expression form
    remains the oracle-matching reference (q_n2/n3/n4); this is the
    variant for production query batches."""
    import numpy as np
    import pandas as pd

    cent_rows = _collect_bounded(
        label_centroids(corpus, label_col, vec_col), "IVF centroid table", "ivf_topk"
    )
    cls = np.array([r["cl"] for r in cent_rows], dtype=np.int64)
    C = np.array([list(r["centroid"]) for r in cent_rows], dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)

    qrows = _collect_bounded(queries.select(id_col, vec_col), "query set", "ivf_topk")
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)

    route = Qn @ Cn.T  # queries × cells
    cell_queries: dict[int, list[int]] = {}
    for j in range(len(q_ids)):
        order = np.lexsort((cls, -route[j]))[: min(nprobe, len(cls))]
        for c in cls[order]:
            cell_queries.setdefault(int(c), []).append(j)

    def _local_topk(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            labels = pdf[label_col].to_numpy()
            ids = pdf[id_col].to_numpy()
            V = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col].to_numpy()])
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
            frames = []
            for cell in np.unique(labels):
                qs = cell_queries.get(int(cell))
                if not qs:
                    continue
                m = labels == cell
                cids, S = ids[m], Vn[m] @ Qn[qs].T  # cell_rows × probing_queries
                for col_idx, j in enumerate(qs):
                    col = S[:, col_idx].copy()
                    col[cids == q_ids[j]] = -np.inf
                    order = np.lexsort((cids, -col))
                    kk = min(k, len(order))
                    kth = col[order[kk - 1]] if kk else -np.inf
                    sel = order[col[order] >= kth - 1.01e-4]
                    keep = col[sel] > -np.inf
                    frames.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(int(keep.sum()), q_ids[j]),
                                "neighbor_id": cids[sel][keep],
                                "cos": col[sel][keep],
                            }
                        )
                    )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    cand = corpus.select(id_col, vec_col, label_col).mapInPandas(
        _local_topk, "query_id long, neighbor_id long, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("cos", F.round("cos", 4))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _hyperplane_weights(plane: int, dim: int) -> list[float]:
    """Deterministic md5-derived hyperplane weights in [-1, 1):
    weight(p, d) = conv(md5(f'{p}:{d}')[:8], 16, 10) / 2^31 - 1 — the
    exact formula :func:`random_hyperplane_buckets` evaluates as a
    Spark expression, precomputed as Python floats. Every weight is a
    dyadic rational (32-bit int / 2^31 − 1), so the double is exact and
    its repr round-trips bit-identically into any engine's parser."""
    import hashlib

    return [
        int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[:8], 16) / float(2**31) - 1.0
        for d in range(dim)
    ]


def hyperplane_bucket_sql(
    vec: str, planes: list[int], dim: int = 64, engine: str = "spark"
) -> str:
    """Sign-LSH bucket id as a SQL expression string — the shared
    cross-engine form (Spark `element_at` vs DuckDB 1-based `[]` is the
    only difference). Bit ``pos`` of the bucket = sign of the dot
    product with plane ``planes[pos]``. The per-plane dot product is a
    LEFT-ASSOCIATIVE summation so IEEE order is bit-identical in both
    engines. DuckDB gets the literal term chain; Spark gets the same
    fold as ``aggregate(zip_with(...))`` — a left fold from +0.0, which
    IEEE-matches the chain term for term (+0.0 + t0 == t0 up to the
    sign of zero, and a ±0.0 partial sum never changes a later >= 0.0
    outcome). The HOF form matters at plan scale: 8 tables x 3 planes
    x 64 dims as inline chains is ~1.5k codegen terms, which blows the
    JVM 64 KB method limit, poisons whole-stage codegen for the entire
    stage, and costs seconds of Janino compile-fail-retry per run
    (measured 72 s -> ~3 s on the q_d9 fixture plan)."""
    parts = []
    for pos, p in enumerate(planes):
        ws = _hyperplane_weights(p, dim)
        if engine == "spark":
            wlit = ", ".join(f"CAST({w!r} AS DOUBLE)" for w in ws)
            # slice(): past-the-end elements null out the fold exactly
            # like element_at() beyond the array did in the chain form.
            chain = (
                f"aggregate(zip_with(slice(`{vec}`, 1, {dim}), array({wlit}), "
                "(x, w) -> CAST(x AS DOUBLE) * w), CAST(0.0 AS DOUBLE), "
                "(acc, t) -> acc + t)"
            )
        else:
            terms = [
                f"(CAST({vec}[{d + 1}] AS DOUBLE) * CAST({w!r} AS DOUBLE))"
                for d, w in enumerate(ws)
            ]
            chain = "(" + " + ".join(terms) + ")"
        parts.append(f"(CASE WHEN {chain} >= 0.0 THEN {1 << pos} ELSE 0 END)")
    return " + ".join(parts)


def _hyperplane_buckets_pandas(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    dim: int,
) -> DataFrame:
    """(_id, _v, _b0.._b{L-1}) with all k·L sign-LSH bucket ids computed
    as ONE (batch×dim)@(dim×k·L) numpy matmul per Arrow batch — the
    vectorized production form of :func:`hyperplane_bucket_sql` (same
    md5-derived weights; float64 matmul, so signs can differ from the
    SQL fold only on dot products within summation-reassociation ε of
    zero — a bucketing difference, not a result difference). Vectors
    shorter than ``dim`` are zero-padded; longer ones truncated."""
    import numpy as np
    import pandas as pd

    W = np.array(
        [_hyperplane_weights(p, dim) for p in range(n_planes * n_tables)],
        dtype=np.float64,
    ).T  # dim × (k·L)
    pos = np.tile(1 << np.arange(n_planes, dtype=np.int64), n_tables)
    out_schema = ", ".join(
        ["_id long", f"_v array<{df.schema[vec_col].dataType.elementType.simpleString()}>"]
        + [f"_b{t} long" for t in range(n_tables)]
    )

    def _buckets(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.zeros((len(pdf), dim), dtype=np.float64)
            for i, v in enumerate(pdf[vec_col].to_numpy()):
                a = np.asarray(v, dtype=np.float64)[:dim]
                V[i, : len(a)] = a
            bits = ((V @ W) >= 0.0).astype(np.int64) * pos  # batch × (k·L)
            cols = {"_id": pdf[id_col], "_v": pdf[vec_col]}
            for t in range(n_tables):
                cols[f"_b{t}"] = bits[:, t * n_planes : (t + 1) * n_planes].sum(axis=1)
            yield pd.DataFrame(cols)

    return df.select(id_col, vec_col).mapInPandas(_buckets, out_schema)


def lsh_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int | None = None,
    n_tables: int = 8,
    dim: int = 64,
    blocks: int | None = None,
    rows_per_block: int = 4096,
    n_vecs: int | None = None,
    target_bucket: int = 128,
) -> DataFrame:
    """LSH-prefiltered embedding near-dup: candidate pairs are vectors
    sharing a sign-LSH bucket in ANY of ``n_tables`` hash tables
    (``n_planes`` hyperplanes each), scored by a bucket-local blocked
    GEMM — the scale-safe replacement for :func:`cosine_pairs`' exact
    all-pairs scan. Returns (id_a, id_b, cos), id_a < id_b, cos to 4dp.

    Approximate with one-sided error: output ⊆ the exact pair set with
    identical cos values (the GEMM computes true cosines; only pairs
    never sharing a bucket are missed). Recall for a pair at angle θ is
    1 − (1 − p^k)^L with p = 1 − θ/π, k=n_planes, L=n_tables — raise L
    for recall, raise k for selectivity.

    ``n_planes=None`` (default) auto-sizes k from the corpus count so
    expected bucket load ≈ ``target_bucket``: k = clamp(3..14,
    ⌈log2(N / target_bucket)⌉). k MUST grow with N — at fixed k the
    candidate mass is L·N²/2^k, which crosses above the exact path's
    N²/2 the moment 2^k < 2L (measured: k=3, L=8 on a 20k corpus ran
    5× slower than the exact GEMM). Pass ``n_vecs`` to skip the count
    job, or an explicit ``n_planes`` for an engine-replayable plan
    (the q_d9 oracle pins k=3 at fixture scale).

    Scale shape (the reference's bounded-work-per-element posture,
    wire.go:79-94): total flops = Σ per-bucket GEMMs ≈ N·L·E[bucket
    occupancy]·d — LINEAR in N at the auto-sized constant bucket load,
    vs cosine_pairs' unconditional N²·d/2. Group count = L · 2^k ·
    block pairs, never N². Bucket skew is bounded the same way
    cosine_pairs bounds task memory: occupancy over ``rows_per_block``
    splits into hash blocks (``blocks=None`` auto-sizes from one cheap
    max-bucket count; pass an explicit small ``blocks`` at fixture
    scale to skip that job). Buckets are md5-derived literal-weight
    hyperplane signs (:func:`hyperplane_bucket_sql`), deterministic
    across engines, runs and cluster sizes."""
    import math

    if n_planes is None:
        n = n_vecs if n_vecs is not None else df.count()
        n_planes = min(14, max(3, math.ceil(math.log2(max(n, 2) / max(target_bucket, 1)))))
        # auto-sized (production) path: signs from ONE numpy matmul per
        # Arrow batch. The interpreted aggregate/zip_with folds cost
        # ~k·L·dim lambda steps per vector — measured 16 s of a 17 s
        # q_d9-shaped job at 20k vectors — while the matmul is
        # microseconds. Bucket assignment affects only candidate
        # RECALL, never emitted-pair correctness (the GEMM rescans true
        # cosines), so the production path trades the oracle's
        # bit-replayable sign folds for vectorized bucketing. An
        # explicit n_planes keeps the engine-replayable SQL form (the
        # q_d9 oracle pins it).
        base = _hyperplane_buckets_pandas(df, id_col, vec_col, n_planes, n_tables, dim)
    else:
        bucket_cols = [
            F.expr(
                hyperplane_bucket_sql(
                    vec_col, list(range(t * n_planes, (t + 1) * n_planes)), dim, "spark"
                )
            ).alias(f"_b{t}")
            for t in range(n_tables)
        ]
        base = df.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), *bucket_cols
        )
    entries = F.array(
        *[
            F.struct(F.lit(t).alias("_tbl"), F.col(f"_b{t}").alias("_bkt"))
            for t in range(n_tables)
        ]
    )
    rows = base.select("_id", "_v", F.explode(entries).alias("e")).select(
        "_id", "_v", F.col("e._tbl").alias("_tbl"), F.col("e._bkt").alias("_bkt")
    )
    scored = _grouped_gemm(rows, ["_tbl", "_bkt"], threshold, blocks, rows_per_block)
    # The same pair surfaces from every table whose buckets it shares —
    # the GEMM recomputes the identical double each time, so max() is a
    # pure dedup (one linear groupBy on the sparse survivor set).
    return (
        scored.groupBy("id_a", "id_b")
        .agg(F.round(F.max("_cos"), 4).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def random_hyperplane_buckets(
    df: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Sign-LSH bucket id per vector using deterministic md5-derived
    hyperplanes: plane p, dim d gets weight in [-1,1) from
    conv(md5('p:d')[1:8], 16, 10) — reproducible across runs/engines
    with no RNG broadcast. Bucket = bits of sign(v·plane).

    This builds the dot products as UNROLLED n_planes×dim term chains —
    kept deliberately as the independent cross-check implementation for
    `test_hyperplane_sql_matches_expression_buckets`. Production paths
    (:func:`lsh_cosine_pairs`) use :func:`hyperplane_bucket_sql`'s
    compact `aggregate(zip_with(...))` fold instead: at 8×64 terms and
    up, the unrolled chain form blows the JVM 64 KB codegen method
    limit and drops the whole stage to interpreted evaluation."""
    sig = None
    for p in range(n_planes):
        terms = None
        for d in range(dim):
            w = (
                F.conv(F.md5(F.lit(f"{p}:{d}")).substr(1, 8), 16, 10).cast("double")
                / F.lit(float(2**31))
                - 1.0
            )
            t = F.element_at(F.col(vec_col), d + 1).cast("double") * w
            terms = t if terms is None else terms + t
        bit = F.when(terms >= 0, F.lit(2**p).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    return df.select(F.col(id_col), sig.alias("bucket"))


def semantic_pairs(
    df: DataFrame,
    threshold: float = 0.85,
    k: int | None = None,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
    blocks: int | None = None,
    rows_per_block: int = 4096,
    n_vecs: int | None = None,
    target_cluster: int = 256,
) -> DataFrame:
    """SemDeDup-style near-dup candidates (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): k-means-cluster the embedding space, then score
    pairs CLUSTER-LOCALLY with the blocked GEMM. Returns
    (id_a, id_b, cos), id_a < id_b, cos ≥ threshold to 4dp.

    The semantic trade vs :func:`lsh_cosine_pairs`: clusters follow the
    corpus's own density (duplicates of one document land in one
    k-means cell with near-certainty at dedup-grade thresholds), so a
    single partitioning replaces L hash tables — fewer candidate
    groups, and the output needs no cross-table dedup because each
    vector belongs to exactly ONE cluster. One-sided error: output ⊆
    the exact pair set with identical cosines; only cross-cluster
    pairs are missed.

    Scale shape: assignment is a broadcast-centroid join (the corpus
    never shuffles for it — see :func:`kmeans_labels`); per-cluster
    GEMM work is Σ|cluster|²·d/2 ≈ N²d/(2k) at balanced k — choose
    k ∝ N/rows_per_block to hold per-element work constant; oversized
    clusters split into hash blocks, bounding task memory exactly like
    the exact path. Pass ``label_col`` to reuse an existing clustering
    (domain, shard, or a previous k-means) and skip Lloyd's entirely.
    """
    if label_col is None:
        if k is None:
            # k MUST grow with N (per-cluster GEMM work is ~N²d/2k at
            # balanced k): target ~target_cluster vectors per cell.
            # Pass n_vecs to skip the count job.
            import math

            n = n_vecs if n_vecs is not None else df.count()
            k = max(1, math.ceil(n / max(1, target_cluster)))
        labeled = kmeans_labels(df, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
        label_col = "label_km"
    else:
        labeled = df
    rows = labeled.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.col(label_col).alias("_cl"),
    )
    scored = _grouped_gemm(rows, ["_cl"], threshold, blocks, rows_per_block)
    return scored.select(
        "id_a", "id_b", F.round(F.col("_cos"), 4).alias("cos")
    ).filter(F.col("cos") >= threshold)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.85,
    k: int | None = None,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
    blocks: int | None = None,
    rows_per_block: int = 4096,
) -> DataFrame:
    """Deduplicated corpus under SemDeDup semantics: connect
    :func:`semantic_pairs` into duplicate groups
    (:func:`dedup.connected_components`) and keep only the
    minimum-id member of each group. Singletons and cluster-crossing
    near-dups survive (the documented one-sided error). Anti-join on
    the drop list — the corpus never shuffles for the final cut."""
    from electrician_spark.operators import dedup

    pairs = semantic_pairs(
        df, threshold, k, iters, id_col, vec_col, label_col, blocks, rows_per_block
    )  # k=None auto-sizes from the corpus count (see semantic_pairs)
    comps = dedup.connected_components(pairs)
    drop = comps.filter(F.col("node") != F.col("rep")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")
