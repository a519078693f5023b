"""Scalar quantization for embedding columns: float32 → b-bit codes.

The ANN memory lever at 100 TB: a 64-dim float32 embedding is 256 B;
its int8 codes are 64 B — 4× more vectors per executor page, which is
the difference between an in-memory IVF probe and a spilled one. This
is symmetric scalar quantization (per-dimension min/max, uniform
levels) — the standard first rung below product quantization; PQ slots
in behind the same bounds-table shape if recall demands it.

Plan shape:
1. **Bounds pass** — `posexplode` → `groupBy(dim)` min/max: codegen'd
   all the way, one shuffle of d rows per input partition (map-side
   combined), output = d rows total.
2. **Encode pass** — bounds collapse to one row of sorted arrays,
   broadcast-joined onto every vector; the code for element i is
   ``least(levels-1, floor((x - lo_i) · levels / span_i))`` via
   `transform` with its index-lambda form. Pure Column expressions:
   no UDF, no shuffle of the vectors themselves.

Everything is computed in float64 on both sides of the oracle fence
(elements cast before any arithmetic), and the bucketing uses
``floor`` (exact) rather than ``round`` (half-boundary hazard), so
codes are bit-identical across engines.

Degenerate dimensions (hi == lo) encode as 0 and decode back to the
constant ``lo`` — no NaNs from the zero span.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantization_bounds(df: DataFrame, vec_col: str) -> DataFrame:
    """Per-dimension corpus bounds: (dim, lo, hi) with ``dim`` 0-based.
    One codegen aggregation; d rows out."""
    exploded = df.select(F.posexplode(vec_col).alias("dim", "x")).select(
        "dim", F.col("x").cast("double").alias("x")
    )
    return exploded.groupBy("dim").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )


def _bounds_row(bounds: DataFrame) -> DataFrame:
    """Collapse the bounds table to a single row of dim-ordered arrays
    (collect_list order is nondeterministic — sort by dim explicitly)."""
    packed = bounds.agg(
        F.array_sort(F.collect_list(F.struct("dim", "lo", "hi"))).alias("b")
    )
    return packed.select(
        F.transform("b", lambda s: s["lo"]).alias("_q_lo"),
        F.transform("b", lambda s: s["hi"]).alias("_q_hi"),
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str, bits: int = 8, out_col: str | None = None
) -> DataFrame:
    """Append ``{vec_col}_q`` (array<int> codes in [0, 2^bits)). The
    bounds table is computed from ``df`` itself; persist it separately
    when encoding queries against a frozen corpus codebook."""
    if not 1 <= bits <= 16:
        raise ValueError(f"bits must be in [1, 16], got {bits}")
    levels = 1 << bits
    out = out_col or f"{vec_col}_q"
    with_bounds = df.crossJoin(F.broadcast(_bounds_row(quantization_bounds(df, vec_col))))

    def code(x: Column, i: Column) -> Column:
        # transform's index lambda form: i is 0-based; F.get is the
        # 0-based, Column-index array accessor.
        lo = F.get(F.col("_q_lo"), i)
        span = F.get(F.col("_q_hi"), i) - lo
        raw = F.floor((x.cast("double") - lo) * F.lit(float(levels)) / span)
        clamped = F.least(F.lit(levels - 1), F.greatest(F.lit(0), raw))
        return F.when(span > 0, clamped).otherwise(F.lit(0)).cast("int")

    return with_bounds.withColumn(out, F.transform(vec_col, code)).drop(
        "_q_lo", "_q_hi"
    )


def dequantize(
    codes: Column, lo: Column, hi: Column, bits: int = 8
) -> Column:
    """Reconstruct bucket-midpoint float64 values from codes + the
    per-dimension bounds arrays (same dim order as the encoder)."""
    levels = 1 << bits

    def value(c: Column, i: Column) -> Column:
        lo_i = F.get(lo, i)
        span = F.get(hi, i) - lo_i
        return lo_i + (c.cast("double") + 0.5) * span / F.lit(float(levels))

    return F.transform(codes, value)


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search") — the rung below scalar quantization: split
# each vector into m subvectors, k-means each subspace independently,
# store one centroid index per subspace (m bytes at k ≤ 256 vs 4·d
# float bytes), search with Asymmetric Distance Computation (ADC): a
# per-query m×k lookup table of exact query-subvector→centroid
# distances, so scoring a code is m table gathers + a sum.
#
# Scale design: training state is the m·k·(d/m) = k·d codebook —
# driver-bounded like kmeans_labels' centroids; assignment is an
# Arrow-batched matmul per subspace (corpus never shuffles); codebook
# updates are one (sub, cluster, dim) groupBy per Lloyd round. Encoding
# is a pandas UDF with the codebook in the closure. ADC search scans
# codes once, emits local top-k per query, and re-ranks the ≤
# k·partitions survivors in one tiny window — the cosine_topk_gemm
# shuffle shape. Determinism: md5-ordered seeds, centroids rounded per
# round, argmin ties to the lowest centroid index, empty clusters keep
# their previous centroid (fixed m×k shape, engine-replayable).
# ---------------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> list[list[list[float]]]:
    """Train PQ codebooks: ``codebooks[sub][cl]`` = centroid (d/m
    floats) for subspace ``sub``. d must divide by m. Driver holds k·d
    floats — the bounded-model contract."""
    import numpy as np

    first = df.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("pq_train: empty input")
    d = int(first["d"])
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ds = d // m

    subs = df.select(
        F.col(id_col).alias("_pid"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("_sub"),
                        F.slice(F.col(vec_col), s * ds + 1, ds)
                        .cast("array<double>")
                        .alias("_sv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("e"),
    ).select("_pid", F.col("e._sub").alias("_sub"), F.col("e._sv").alias("_sv"))
    # the seeds pass and EVERY k-means iteration (assign + means, both
    # actions) consume this table — without materialization each one
    # re-scans the source and re-explodes m subvectors per row,
    # 2+iters corpus scans total. One executor-local write, replayed
    # by all passes.
    subs = subs.localCheckpoint(eager=False)

    # deterministic seeds: per subspace, k DISTINCT subvectors, each
    # represented by its smallest (md5(id), id) carrier — distinctness
    # matters: duplicate seeds collapse into one cluster (ties take the
    # lowest index, the twin goes empty) and a value never seeded can
    # stay unseparated forever. Two windows, both deterministic.
    from pyspark.sql import Window

    seed_key = F.md5(F.col("_pid").cast("string"))
    w_dedup = Window.partitionBy("_sub", "_sv").orderBy(seed_key, "_pid")
    w_rank = Window.partitionBy("_sub").orderBy(seed_key, "_pid")
    seeds = (
        subs.withColumn("_dup", F.row_number().over(w_dedup))
        .filter(F.col("_dup") == 1)
        .withColumn("_rn", F.row_number().over(w_rank))
        .filter(F.col("_rn") <= k)
        .select("_sub", "_rn", "_sv")
        .collect()
    )
    books: list[list[list[float]]] = [[None] * k for _ in range(m)]  # type: ignore[list-item]
    for r in seeds:
        books[r["_sub"]][r["_rn"] - 1] = list(r["_sv"])
    for s in range(m):
        for c in range(k):
            if books[s][c] is None:  # corpus smaller than k: pad with zeros
                books[s][c] = [0.0] * ds

    def _assign(book_arrays):
        import pandas as pd

        C = {s: np.array(book_arrays[s], dtype=np.float64) for s in range(m)}

        def gen(it):
            for pdf in it:
                if len(pdf) == 0:
                    continue
                out_cl = np.empty(len(pdf), dtype=np.int32)
                subs_np = pdf["_sub"].to_numpy()
                V = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["_sv"]])
                for s in np.unique(subs_np):
                    mask = subs_np == s
                    X = V[mask]
                    Cb = C[int(s)]
                    # ||x-c||² = |x|² − 2x·c + |c|²; argmin ties → lowest index
                    d2 = (X * X).sum(1, keepdims=True) - 2 * X @ Cb.T + (Cb * Cb).sum(1)
                    out_cl[mask] = np.argmin(d2, axis=1)
                yield pd.DataFrame(
                    {"_pid": pdf["_pid"], "_sub": pdf["_sub"], "_sv": pdf["_sv"],
                     "_cl": out_cl}
                )

        return subs.mapInPandas(
            gen, "_pid long, _sub int, _sv array<double>, _cl int"
        )

    for _ in range(iters):
        assigned = _assign(books)
        means = (
            assigned.select("_sub", "_cl", F.posexplode("_sv").alias("_dim", "_x"))
            .groupBy("_sub", "_cl", "_dim")
            .agg(F.round(F.avg("_x"), round_dp).alias("_mean"))
            .groupBy("_sub", "_cl")
            .agg(
                F.array_sort(F.collect_list(F.struct("_dim", "_mean")))
                .getField("_mean")
                .alias("_c")
            )
            .collect()
        )
        new_books = [[list(books[s][c]) for c in range(k)] for s in range(m)]
        for r in means:  # empty clusters keep their previous centroid
            new_books[r["_sub"]][r["_cl"]] = list(r["_c"])
        books = new_books
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Append ``out_col``: array<int> of length m — the nearest-centroid
    index per subspace (argmin L2, ties to the lowest index). Arrow-
    batched; the codebook ships in the UDF closure (k·d floats)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    m = len(codebooks)
    ds = len(codebooks[0][0])
    C = [np.array(codebooks[s], dtype=np.float64) for s in range(m)]

    @F.pandas_udf(ArrayType(IntegerType()))
    def _enc(vs):
        def enc(v):
            if v is None:
                return None
            x = np.asarray(v, dtype=np.float64)
            code = []
            for s in range(m):
                xs = x[s * ds : (s + 1) * ds]
                d2 = ((C[s] - xs) ** 2).sum(1)
                code.append(int(np.argmin(d2)))
            return code

        return vs.map(enc)

    return df.withColumn(out_col, _enc(F.col(vec_col)))


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """ADC top-k: for each (broadcast-small) query, distance to a coded
    corpus vector = Σ_sub LUT[sub][code[sub]] where LUT holds the exact
    L2² between the query's subvector and each centroid — identically
    the L2² between the query and the RECONSTRUCTED corpus vector
    (test-pinned identity). One corpus scan, local top-k per Arrow
    batch, global re-rank window on (dist asc, neighbor id). Returns
    (query_id, neighbor_id, dist, rank), dist to 6dp."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    from electrician_spark.operators.similarity import _collect_bounded

    m = len(codebooks)
    ds = len(codebooks[0][0])
    C = [np.array(codebooks[s], dtype=np.float64) for s in range(m)]
    qrows = _collect_bounded(queries.select(id_col, vec_col), "query set", "pq_topk")
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    luts = []
    for r in qrows:
        q = np.asarray(list(r[1]), dtype=np.float64)
        lut = np.stack(
            [((C[s] - q[s * ds : (s + 1) * ds]) ** 2).sum(1) for s in range(m)]
        )  # m × k
        luts.append(lut)

    def gen(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            codes = np.vstack([np.asarray(c, dtype=np.int64) for c in pdf[code_col]])
            rows_idx = np.arange(m)
            frames = []
            for j in range(len(q_ids)):
                dist = luts[j][rows_idx, codes].sum(axis=1)
                dist[ids == q_ids[j]] = np.inf  # exclude self
                order = np.lexsort((ids, dist))
                kk = min(k, len(order))
                # widen by one 6dp quantum so rounding ties survive the cut
                kth = dist[order[kk - 1]] if kk else np.inf
                sel = order[dist[order] <= kth + 1.01e-6]
                keep = np.isfinite(dist[sel])
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(int(keep.sum()), q_ids[j]),
                            "neighbor_id": ids[sel][keep],
                            "dist": dist[sel][keep],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    cand = codes_df.select(id_col, code_col).filter(
        F.col(code_col).isNotNull()  # NULL-vector rows carry no code
    ).mapInPandas(gen, "query_id long, neighbor_id long, dist double")
    w = Window.partitionBy("query_id").orderBy(F.col("dist"), F.col("neighbor_id"))
    return (
        cand.withColumn("dist", F.round("dist", 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist", "rank")
    )


def ivfpq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    label_col: str = "label",
) -> DataFrame:
    """IVF-PQ: the two ANN levers composed — IVF cell routing prunes
    WHICH rows get scored (scan cost ∝ probed-cell mass), PQ codes
    shrink WHAT a row costs to score (m LUT gathers instead of a d-dim
    dot product). The corpus carries (id, code, label); queries route
    driver-side to their ``nprobe`` nearest cell centroids (the SAME
    Spark-computed `label_centroids` values the expression-form IVF
    uses, so probe decisions match), and each Arrow batch ADC-scores
    only the queries probing its rows' cells. ``codes_df`` must retain
    ``vec_col`` alongside the codes — the raw vectors feed the IVF
    routing centroids (pass the pq_encode output before dropping the
    embedding column, or precompute centroids yourself). Same contract as
    :func:`pq_topk` / `similarity.ivf_topk`: approximate (recall < 1
    when a true neighbor lives in an unprobed cell — raise nprobe),
    self-matches excluded, (dist asc, neighbor id) ranking, dist to
    6dp. Routing is L2 on the raw query vs cell centroid — metric-
    consistent with the ADC distances."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    from electrician_spark.operators.similarity import (
        _collect_bounded,
        label_centroids,
    )

    m = len(codebooks)
    ds = len(codebooks[0][0])
    C = [np.array(codebooks[s], dtype=np.float64) for s in range(m)]

    # corpus cell centroids (mean vector per label): the same routing
    # table ivf_topk uses, collected under the bounded-model guard.
    cent_rows = _collect_bounded(
        label_centroids(
            codes_df.select(F.col(label_col).alias("label"), F.col(vec_col)),
            "label",
            vec_col,
        ),
        "IVF centroid table",
        "ivfpq_topk",
    )
    cls = np.array([r["cl"] for r in cent_rows], dtype=np.int64)
    cents = np.array([list(r["centroid"]) for r in cent_rows], dtype=np.float64)

    qrows = _collect_bounded(queries.select(id_col, vec_col), "query set", "ivfpq_topk")
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    luts, cell_queries = [], {}
    for j, r in enumerate(qrows):
        q = np.asarray(list(r[1]), dtype=np.float64)
        luts.append(
            np.stack(
                [((C[s] - q[s * ds : (s + 1) * ds]) ** 2).sum(1) for s in range(m)]
            )
        )
        d2 = ((cents - q) ** 2).sum(1)
        order = np.lexsort((cls, d2))[: min(nprobe, len(cls))]
        for c in cls[order]:
            cell_queries.setdefault(int(c), []).append(j)

    def gen(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            labels = pdf[label_col].to_numpy()
            codes = np.vstack([np.asarray(c, dtype=np.int64) for c in pdf[code_col]])
            rows_idx = np.arange(m)
            frames = []
            for cell in np.unique(labels):
                qs = cell_queries.get(int(cell))
                if not qs:
                    continue
                mask = labels == cell
                cids, ccodes = ids[mask], codes[mask]
                for j in qs:
                    dist = luts[j][rows_idx, ccodes].sum(axis=1)
                    dist[cids == q_ids[j]] = np.inf
                    order = np.lexsort((cids, dist))
                    kk = min(k, len(order))
                    kth = dist[order[kk - 1]] if kk else np.inf
                    sel = order[dist[order] <= kth + 1.01e-6]
                    keep = np.isfinite(dist[sel])
                    frames.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(int(keep.sum()), q_ids[j]),
                                "neighbor_id": cids[sel][keep],
                                "dist": dist[sel][keep],
                            }
                        )
                    )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    cand = codes_df.select(id_col, code_col, label_col).filter(
        F.col(code_col).isNotNull()  # NULL-vector rows carry no code
    ).mapInPandas(gen, "query_id long, neighbor_id long, dist double")
    w = Window.partitionBy("query_id").orderBy(F.col("dist"), F.col("neighbor_id"))
    return (
        cand.withColumn("dist", F.round("dist", 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist", "rank")
    )


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    out_dim: int = 64,
    seed: int = 0,
    out_col: str = "projected",
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with the
    Achlioptas (2003) sparse sign matrix — the cheap-projection rung
    below PQ: shrink d-dim embeddings to ``out_dim`` before
    brute-force/IVF search when memory (or GEMM width) is the binding
    constraint. R[i][j] ∈ {+1, 0, −1} with probabilities
    (1/6, 2/3, 1/6), scaled by sqrt(3 / out_dim); E‖Rx‖² = ‖x‖², and
    pairwise distances are preserved within (1±ε) for
    out_dim = O(log n / ε²) — the published JL guarantee.

    The matrix is never shipped: it derives deterministically from
    (seed, d, out_dim) via md5 counter-mode inside the kernel, so
    every executor (and the plain-Python test reference) rebuilds the
    identical R. Projection is one numpy GEMM per Arrow batch
    (mapInPandas — the repo's proven vectorized path, same shape as
    the block-GEMM cosine kernels); output is float64 rounded to 6dp
    (the cross-engine float contract). One linear scan, no shuffle,
    no driver state. NULL / wrong-width vectors raise (fail loudly —
    a mixed-width embedding column is upstream corruption)."""
    import hashlib

    import numpy as np
    import pandas as pd

    other = [c for c in df.columns if c != vec_col]

    def _matrix(d: int) -> "np.ndarray":
        # md5 counter mode: 16 bytes per call → one uniform byte per
        # cell; {0..255} → sign by the 1/6-2/3-1/6 split (floor(p*256)
        # cuts at 42 and 213 — the fixed published probabilities,
        # biased < 0.4% by integer truncation, irrelevant to JL).
        need = d * out_dim
        raw = bytearray()
        ctr = 0
        while len(raw) < need:
            raw += hashlib.md5(f"{seed}:rp:{ctr}".encode()).digest()
            ctr += 1
        b = np.frombuffer(bytes(raw[:need]), dtype=np.uint8).reshape(d, out_dim)
        r = np.zeros((d, out_dim), dtype=np.float64)
        r[b < 42] = 1.0
        r[b >= 213] = -1.0
        return r * np.sqrt(3.0 / out_dim)

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields if f.name != vec_col
    )
    schema = (schema + ", " if schema else "") + f"{out_col} array<double>"

    def gen(batches):
        r = None
        for b in batches:
            if len(b) == 0:
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in b[vec_col]])
            if r is None:
                r = _matrix(mat.shape[1])
            elif mat.shape[1] != r.shape[0]:
                raise ValueError(
                    f"mixed embedding widths: {mat.shape[1]} vs {r.shape[0]}"
                )
            proj = np.round(mat @ r, 6)
            out = pd.DataFrame({c: b[c] for c in other})
            out[out_col] = list(proj)
            yield out

    return df.mapInPandas(gen, schema)


# ---------------------------------------------------------------------------
# Binary (sign-bit) quantization — the rung below PQ: one BIT per
# dimension (32x memory vs float32), searched by Hamming distance,
# which for sign bits is a monotone proxy for angular distance
# (the SimHash/sign-LSH estimate: cos ≈ cos(π·hamming/d)). The
# standard cheap-prefilter tier of modern vector stores; re-rank the
# survivors with exact cosine when recall matters.
# ---------------------------------------------------------------------------

_WORD = 64


def binary_quantize(
    df: DataFrame,
    vec_col: str,
    d: int,
    out_col: str | None = None,
) -> DataFrame:
    """Append ``{vec_col}_b``: the d-dim float vector as ⌈d/64⌉ signed
    BIGINT words, bit j of word w set iff ``vec[64w+j] > 0`` (strict —
    zeros quantize to 0, so the all-zeros vector is all-zero words).
    Bit 63 is the two's-complement sign term, the repo-wide
    signed-BIGINT convention (simhash/phash) — built arithmetically by
    summing per-bit literals with ``-(2^63)`` standing in for bit 63,
    so every op is exact integer Column arithmetic and the encoding
    replays in any engine (DuckDB: the same CASE/sum).

    ``d`` is explicit (not inferred) so the per-word bit expressions
    unroll at plan time into one codegen'd projection — zero Python,
    zero shuffle, rides the corpus scan."""
    if d <= 0:
        raise ValueError(f"d must be positive, got {d}")
    out = out_col or f"{vec_col}_b"
    # Guard the silent-wrong-codes mode: if d overruns the actual
    # vector length, F.get returns NULL and the when() would quantize
    # phantom dimensions to 0 — wrong sign-bit codes with no error.
    # raise_error costs nothing when the predicate is false (codegen
    # branch) and turns the mismatch into a loud task failure.
    # size(NULL) is -1 under the default legacy sizeOfNull, so a NULL
    # vector trips the same guard — name that case in the message
    # instead of reporting a misleading "length -1".
    guard = F.assert_true(
        F.size(F.col(vec_col)) >= d,
        F.when(
            F.col(vec_col).isNull(),
            F.lit(f"binary_quantize: d={d} but vector is NULL"),
        ).otherwise(
            F.concat(
                F.lit(f"binary_quantize: d={d} exceeds vector length "),
                F.size(F.col(vec_col)).cast("string"),
            )
        ),
    )
    # Materialize the guarded vector as its OWN projection before the
    # d per-bit terms reference it — wrapping the when() around the
    # source column would splice the guard subtree into every one of
    # the d F.get terms (d-fold re-evaluation if CSE misses it).
    gv = "_bq_guarded"
    df = df.withColumn(gv, F.when(guard.isNull(), F.col(vec_col)))
    # The d per-bit terms are built as ONE SQL string per word and
    # parsed in a single JVM call each (F.expr) — the simhash lesson:
    # composing them as Column objects costs one py4j round-trip per
    # operator, measured ~2.1 s of driver time per q_bq1 plan at d=64
    # (construct-phase split, r15), vs ~0.1 s for string parsing.
    # Execution is identical: same CASE WHEN / CAST tree.
    words = []
    for w in range(0, d, _WORD):
        terms = []
        for j in range(min(_WORD, d - w)):
            # -(2^63) has no BIGINT literal form; the two-term spelling
            # is the repo-wide convention (simhash's bit-63 term)
            weight = "-9223372036854775807 - 1" if j == 63 else str(1 << j)
            terms.append(
                f"(CASE WHEN CAST(get({gv}, {w + j}) AS DOUBLE) > CAST(0 AS DOUBLE) "
                f"THEN CAST({weight} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            )
        words.append(F.expr(" + ".join(terms)))
    return df.withColumn(out, F.array(*words)).drop(gv)


def _hamming_expr(a_col: str, b_col: str, d: int) -> Column:
    """Σ bit_count(a[w] XOR b[w]) over the ⌈d/64⌉ code words as a
    STATIC expression — the word count is known at plan time, so the
    sum unrolls into codegen'd integer ops instead of an interpreted
    aggregate/zip_with HOF pair (higher-order lambdas run interpreted
    per element — pure overhead on the tier's hot scoring path, where
    d=64 means folding over a single-element array)."""
    nwords = (d + _WORD - 1) // _WORD
    terms = [
        F.bit_count(
            F.get(F.col(a_col), w).bitwiseXOR(F.get(F.col(b_col), w))
        ).cast("long")
        for w in range(nwords)
    ]
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc



def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    d: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-quantized top-k neighbors per query: both sides sign-bit
    encode (:func:`binary_quantize`), distance = Σ bit_count(XOR) over
    the word arrays — exact integer arithmetic, fully SQL-replayable
    (DuckDB ``xor``/``bit_count``). Returns (query_id, neighbor_id,
    hamming, rank) with the deterministic (hamming asc, neighbor id)
    tie-break; self-matches excluded.

    Plan shape = the attested ``cosine_topk`` oracle form: corpus scan
    → broadcast query join → per-query window. At scale, swap the
    window for the local-top-k + tiny re-rank trick
    (``cosine_topk_gemm``); the scoring itself is already ~100x
    cheaper per pair than a float dot product (⌈d/64⌉ XOR+popcounts,
    no multiplies), which is the point of the tier."""
    from pyspark.sql import Window

    from electrician_spark.io import fan_out_small

    q = binary_quantize(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        vec_col,
        d,
        out_col="qb",
    ).select("query_id", "qb")
    c = binary_quantize(
        fan_out_small(
            corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
        ),
        vec_col,
        d,
        out_col="cb",
    ).select("neighbor_id", "cb")
    dist = _hamming_expr("cb", "qb", d)
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", dist.alias("hamming"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", "rank")
    )


def hamming_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    d: int,
    k: int = 5,
    prefilter_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full binary-quantization tier stack: Hamming prefilter to
    ``prefilter_factor·k`` candidates per query (:func:`hamming_topk` —
    XOR/popcount, no multiplies), then EXACT cosine re-rank of the
    survivors to top-``k``. Returns (query_id, neighbor_id, cos, rank)
    — the :func:`similarity.cosine_topk` surface, so the two are
    drop-in comparable; recall < 1 exactly when a true neighbor's sign
    pattern ranks outside the prefilter band (the tier's documented
    trade).

    Scale: the expensive float dot products run on candidate rows only
    (``prefilter_factor·k`` per query instead of the corpus), joined
    back by id — the candidate set broadcasts, the corpus is scanned
    twice (encode+score, candidate fetch) and shuffled never."""
    from pyspark.sql import Window

    from electrician_spark.operators.similarity import cosine

    if prefilter_factor < 1:
        raise ValueError(f"prefilter_factor must be >= 1, got {prefilter_factor}")
    cand = hamming_topk(
        corpus, queries, d, k=prefilter_factor * k, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    scored = (
        cv.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_cv")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def hamming_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    d: int,
    k: int = 5,
    label_col: str = "label",
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cell-routed binary-quantized top-k — the large-QUERY-set tier of
    :func:`hamming_topk`. The brute form is corpus x queries by
    construction (one broadcast join scores every pair), which is the
    right plan while the query set is small; its cost grows LINEARLY
    in |Q| (measured exponent ~1 on the query axis, SCALE.md), so past
    a crossover the bucketed form wins: route each query to its
    ``nprobe`` nearest coarse cells (float-centroid cosine — the same
    IVF router q_n3/q_n4 attest), then XOR/popcount only within probed
    cells — |Q|·|C|·(nprobe/cells) pairs instead of |Q|·|C|.

    Same output contract as :func:`hamming_topk` (query_id,
    neighbor_id, hamming, rank; (hamming asc, id) tie-break;
    self-matches excluded), approximate with the classic IVF recall
    knob: a true Hamming neighbor in an unprobed cell is missed;
    nprobe = n_cells recovers brute-force exactly (pinned in
    test_quantize)."""
    from pyspark.sql import Window

    from electrician_spark.io import fan_out_small
    from electrician_spark.operators.similarity import cosine, label_centroids

    cents = label_centroids(corpus, label_col, vec_col)
    q = binary_quantize(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        vec_col,
        d,
        out_col="qb",
    ).select("query_id", "qb", F.col(vec_col).alias("_qv"))
    routed = q.join(F.broadcast(cents)).select(
        "query_id",
        "qb",
        "cl",
        cosine(F.col("_qv"), F.col("centroid")).alias("_ccos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_ccos").desc(), F.col("cl"))
    probe = (
        routed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "qb", "cl")
    )
    c = binary_quantize(
        fan_out_small(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col),
                F.col(label_col).alias("cl"),
            )
        ),
        vec_col,
        d,
        out_col="cb",
    ).select("neighbor_id", "cb", "cl")
    dist = _hamming_expr("cb", "qb", d)
    scored = (
        c.join(F.broadcast(probe), "cl")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", dist.alias("hamming"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", "rank")
    )


# Measured on the query-count axis (`git show
# 2aba643:tools/r9_scale_probe.py`, fixed 16k-vector corpus, SCALE.md
# r9 table): brute hamming_topk grows
# near-linearly in |Q| (exponent 0.83; 7.3 s at Q=10 → 226 s at
# Q=640) while the cell-routed form stays sublinear (0.41; 3.4 s →
# 19 s) because each query scores only nprobe/cells of the corpus.
# The routing rule is therefore about BOUNDEDNESS, not a time
# crossover: below the threshold the exact zero-recall-loss answer
# costs single-digit seconds and is worth keeping; above it the
# brute plan's linear growth dominates (12x slower at Q=640 and
# widening) and the bucketed tier's recall knob (nprobe) is the
# right trade.
HAMMING_BRUTE_MAX_QUERIES = 200


def hamming_topk_auto(
    corpus: DataFrame,
    queries: DataFrame,
    d: int,
    k: int = 5,
    label_col: str | None = "label",
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_brute_queries: int = HAMMING_BRUTE_MAX_QUERIES,
) -> DataFrame:
    """Route between :func:`hamming_topk` (exact, corpus x queries)
    and :func:`hamming_topk_ivf` (cell-bucketed, approximate) on the
    QUERY-count axis: the brute plan's cost is linear in |Q| (the
    corpus side is fixed), so above ``max_brute_queries`` the measured
    crossover rule routes to the IVF tier. When ``label_col`` is None
    OR the named column is absent from the corpus schema there is
    nothing to bucket by, so the exact brute plan always runs — the
    schema check keeps the default ``label_col="label"`` from raising
    inside hamming_topk_ivf on unlabeled corpora. The |Q| count is one
    cheap aggregate on the (small relative to corpus) query side,
    never on the corpus.

    A missing DEFAULT ``label_col="label"`` silently routes to brute
    (unlabeled corpora are the common case); a missing EXPLICIT
    label_col raises — a typo there would otherwise silently disable
    the IVF tier on a labeled corpus and run the full
    O(|corpus|x|queries|) brute plan with no signal."""
    if label_col is not None and label_col not in corpus.columns:
        if label_col != "label":
            raise ValueError(
                f"label_col {label_col!r} not in corpus columns "
                f"{corpus.columns} — refusing to silently fall back to the "
                f"brute O(|corpus|x|queries|) plan; pass label_col=None to "
                f"request brute explicitly"
            )
        label_col = None
    n_q = queries.count()
    if label_col is None or n_q <= max_brute_queries:
        return hamming_topk(corpus, queries, d, k, id_col=id_col, vec_col=vec_col)
    return hamming_topk_ivf(
        corpus,
        queries,
        d,
        k,
        label_col=label_col,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
    )


def save_codebooks(path: str, codebooks: list[list[list[float]]]) -> None:
    """Persist :func:`pq_train` codebooks (m × k × d/m floats) as one
    JSON artifact — codebooks are trained once and reused for every
    later encode/search epoch, so they must round-trip across runs and
    clusters. repr-roundtrip floats keep ADC results bit-identical
    after reload; atomic replace keeps readers torn-free."""
    import json
    import os

    payload = [[[float(x) for x in c] for c in sub] for sub in codebooks]
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"type": "pq_codebooks", "version": 1, "data": payload}, f)
    os.replace(tmp, path)


def load_codebooks(path: str) -> list[list[list[float]]]:
    """Read a :func:`save_codebooks` artifact back into the exact
    in-memory shape pq_encode/pq_topk/ivfpq_topk take."""
    import json

    with open(path) as f:
        doc = json.load(f)
    if doc.get("type") != "pq_codebooks":
        raise ValueError(f"not a pq_codebooks artifact: {path}")
    return [[[float(x) for x in c] for c in sub] for sub in doc["data"]]
