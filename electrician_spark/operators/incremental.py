"""Incremental corpus deduplication against a persisted index.

At 100 TB you never re-hash the accumulated corpus to admit a new
snapshot: each incoming batch is deduplicated against a bounded INDEX
distilled from everything admitted before — one exact fingerprint plus
a k-component MinHash signature per admitted document — and the
admitted batch's own index rows are appended for the next round. The
reference engine's dedupe surface is per-stream/windowed
(envelope dedupe keys, W8); this extends it to the corpus-snapshot
cadence an LLM-data pipeline actually runs (CommonCrawl dump N+1
against dumps 1..N).

Decisions per batch document:
- ``exact``  — its normalized fingerprint already exists in the index.
- ``near``   — some band hash collides with an index document AND the
  MinHash component-match estimate of Jaccard similarity
  (|{i : h_i = h'_i}| / k, the standard unbiased MinHash estimator)
  meets ``sim_threshold``.
- admitted otherwise. Within-batch duplicates are the existing
  operators' job (``exact_dedup`` / ``minhash_lsh_pairs``) — this
  module is the batch-vs-history stage.

Scale posture (the whole point):
- The index is NEVER shuffled. Both probes are linear index scans
  against BROADCAST batch-derived tables (the batch is the small side
  by contract: a daily snapshot vs years of corpus), and everything
  joined back to the batch is candidate-sized. Zero sort-merge joins.
- Index rows are fixed-width (md5 hex fingerprints + k md5 hex
  minhashes ≈ 0.6 KB at k=16) — ~0.6 TB of index per billion admitted
  docs, a parquet table partitioned however the store likes.
- Everything is md5-derived — no RNG state; signatures computed by
  different clusters/engines/runs are identical, so an index built
  last year verifies against a batch hashed today (DuckDB replays the
  whole decision byte-for-byte).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from electrician_spark.functions import text as tx
from electrician_spark.operators.dedup import (
    _band_explode_sql,
    _check_banding,
    _minhash_aggs,
    _shingle_table,
)


def build_dedup_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    small: bool = False,
) -> DataFrame:
    """Distill a batch into its index rows: (id, fp, h0..h{k-1}).

    ``fp`` is the normalized exact fingerprint
    (:func:`electrician_spark.functions.text.fingerprint`); ``h_i``
    are the md5-seeded min-hashes (same construction as
    ``minhash_signatures`` — an index built by either API verifies
    against the other). Documents too short to shingle keep NULL
    min-hash columns (exact dedup still covers them). One corpus scan:
    the fingerprint projection joins the signature aggregate on id."""
    fps = df.select(
        F.col(id_col).alias("_id"), tx.fingerprint(F.col(text_col)).alias("fp")
    )
    sigs = (
        _shingle_table(df, id_col, text_col, n, None)
        .groupBy("_id")
        .agg(*_minhash_aggs(num_hashes))
    )
    if small:  # batch-sized input (the incremental_dedup contract):
        # broadcast the signature side so even the index BUILD is
        # exchange-free. Full-snapshot builds leave it False and let
        # the fingerprint⨝signature join shuffle on id — building an
        # index from a whole corpus legitimately shuffles that corpus.
        sigs = F.broadcast(sigs)
    return fps.join(sigs, "_id", "left").selectExpr(
        # one parsed projection (the _minhash_aggs py4j note) — string
        # args to .select() cost one functions.col round trip each
        f"_id AS `{id_col}`", "fp", *[f"h{i}" for i in range(num_hashes)]
    )


def _band_buckets(
    index_like: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bh) band hashes from signature columns — md5 over the
    '|'-joined row minhashes, the exact ``minhash_lsh_pairs`` / oracle
    construction. NULL-signature rows (shingle-less docs) drop out."""
    _check_banding(num_hashes, bands)
    return (
        index_like.filter("h0 IS NOT NULL")
        .selectExpr(
            f"`{id_col}` AS _id",
            f"{_band_explode_sql(num_hashes, bands)} AS b",
        )
        .selectExpr("_id", "b.band AS band", "b.bh AS bh")
    )


def incremental_dedup(
    batch_df: DataFrame,
    index_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    sim_threshold: float = 0.5,
) -> DataFrame:
    """Mark each batch document against the accumulated index.

    Returns the batch's index rows (so admitted rows can be appended
    to the index directly) plus the decision columns:
    ``dup_kind`` (NULL = admit, 'exact', 'near'), ``matched_id`` (the
    minimum matching index id — deterministic), and ``est_jaccard``
    (6dp string, NULL unless near). Exact beats near when both match.

    Plan: batch → index rows (one batch scan); exact probe = index
    semi-joined against the BROADCAST batch fingerprint set, matches
    re-broadcast onto the batch; near probe = index band hashes
    semi-joined against the broadcast batch band hashes, surviving
    candidate signatures joined back (still candidate-sized) and
    scored with the component-match estimator. The index is scanned a
    bounded number of times (exact probe, band probe, candidate
    signature fetch) and shuffled never."""
    bidx = build_dedup_index(batch_df, id_col, text_col, n, num_hashes, small=True)
    bidx = bidx.localCheckpoint()  # consumed by 3 probes below
    hcols = [f"h{i}" for i in range(num_hashes)]

    # --- exact probe: index ⋉ broadcast(batch fps), matches broadcast back
    batch_fps = bidx.select("fp").distinct()
    matched_fp = (
        index_df.join(F.broadcast(batch_fps), "fp", "left_semi")
        .groupBy("fp")
        .agg(F.min(id_col).alias("_x_id"))
    )

    # --- near probe: index band hashes ⨝ BROADCAST batch band hashes —
    # the index side streams through the join, never shuffles; only the
    # candidate-sized survivor set is distinct'd / joined further.
    batch_bands = _band_buckets(bidx, id_col, num_hashes, bands)
    idx_bands = _band_buckets(index_df, id_col, num_hashes, bands)
    cand_pairs = (
        idx_bands.join(
            F.broadcast(batch_bands.selectExpr("_id AS _b_id", "band", "bh")),
            ["band", "bh"],
        )
        .selectExpr("_b_id", "_id AS _i_id")
        .distinct()
    )
    cand_pairs = cand_pairs.localCheckpoint()  # feeds sig fetch + scoring
    # candidate index signatures: one more index scan, broadcast-semi
    # against the (small) candidate id set — still no index shuffle
    cand_ids = cand_pairs.selectExpr(f"_i_id AS `{id_col}`").distinct()
    # multi-column renames as ONE parsed selectExpr each (the
    # _minhash_aggs py4j note: the Column form cost ~2 round trips per
    # aliased signature column, ~70 across these three projections)
    cand_sigs = index_df.join(F.broadcast(cand_ids), id_col, "left_semi").selectExpr(
        f"`{id_col}` AS _i_id", *[f"{h} AS _i{h}" for h in hcols]
    )
    pairs = cand_pairs.join(F.broadcast(cand_sigs), "_i_id").join(
        F.broadcast(bidx.selectExpr(f"`{id_col}` AS _b_id", *hcols)), "_b_id"
    )
    # one parsed SQL string (the _minhash_aggs py4j note): the Column
    # form cost ~5 JVM round trips per hash component
    match_frac = F.expr(
        "("
        + " + ".join(f"(CASE WHEN {h} = _i{h} THEN 1 ELSE 0 END)" for h in hcols)
        + f") / CAST({num_hashes} AS DOUBLE)"
    )
    near = (
        pairs.withColumn("_est", match_frac)
        .filter(F.col("_est") >= F.lit(sim_threshold))
        .groupBy("_b_id")
        .agg(
            F.min_by(F.struct("_i_id", "_est"), F.struct("_i_id")).alias("_m"),
        )
        .selectExpr(
            "_b_id",
            "_m._i_id AS _n_id",
            "CAST(round(_m._est, 6) AS STRING) AS _n_est",
        )
    )

    out = (
        bidx.join(F.broadcast(matched_fp), "fp", "left")
        .join(F.broadcast(near), F.col(id_col) == F.col("_b_id"), "left")
        .selectExpr(
            f"`{id_col}`",
            "fp",
            *hcols,
            "CASE WHEN _x_id IS NOT NULL THEN 'exact' "
            "WHEN _n_id IS NOT NULL THEN 'near' END AS dup_kind",
            "CASE WHEN _x_id IS NOT NULL THEN _x_id ELSE _n_id END AS matched_id",
            "CASE WHEN _x_id IS NULL THEN _n_est END AS est_jaccard",
        )
    )
    return out


def admit_batch(dedup_result: DataFrame, index_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Next round's index: the old index plus the admitted rows'
    index columns (a pure unionByName — append-only storage)."""
    admitted = dedup_result.filter(F.col("dup_kind").isNull()).select(*index_df.columns)
    return index_df.unionByName(admitted)


def incremental_dedup_sink(
    index_path: str,
    admitted_sink,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    sim_threshold: float = 0.5,
):
    """``foreachBatch`` stage wiring :func:`incremental_dedup` into a
    Structured Streaming pipeline: each micro-batch is deduplicated
    against the parquet index at ``index_path``; admitted source rows
    flow to ``admitted_sink(df, epoch_id)`` and their index rows
    APPEND to ``index_path`` — so later micro-batches (and later runs
    pointed at the same path) see everything admitted before them.

    The first batch bootstraps an empty index from its own schema.
    Duplicates WITHIN one micro-batch are collapsed first
    (``exact_dedup`` on the text fingerprint, minimum id wins) —
    batch-vs-history probing alone cannot see them.

    Delivery note: the index append and the admitted-sink write are
    two actions; a crash between them can admit a row whose index
    entry is missing (it would be re-admittable). Streaming runs that
    need exactly-once admission should make ``admitted_sink``
    idempotent per epoch (the standard foreachBatch contract) and
    re-derive the index from the admitted table on recovery
    (``build_dedup_index`` over the sink — one scan)."""
    from electrician_spark.operators.dedup import exact_dedup

    def handle(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        batch = exact_dedup(batch, text_col, keep_col=id_col)
        from pyspark.errors import AnalysisException

        try:
            index = spark.read.parquet(index_path)
            # resolve NOW: under foreachBatch the read can defer path
            # resolution to the first action, which would fail the
            # whole micro-batch instead of taking the bootstrap branch
            index.limit(0).collect()
        except AnalysisException as e:
            # Bootstrap ONLY on "the index does not exist yet" — a
            # missing path, or an existing-but-empty directory (no
            # parquet files → UNABLE_TO_INFER_SCHEMA). Any other read
            # failure (transient IO, permissions, corrupt footer) must
            # fail the micro-batch so the stream retries — deduping
            # against an empty index would silently admit already-seen
            # duplicates and append duplicate index rows.
            err_class = getattr(e, "getCondition", lambda: None)() or ""
            probe = err_class + " " + str(e)
            if "PATH_NOT_FOUND" not in probe and "UNABLE_TO_INFER_SCHEMA" not in probe:
                raise
            index = build_dedup_index(
                batch.limit(0), id_col, text_col, n, num_hashes
            )
        res = incremental_dedup(
            batch, index, id_col, text_col, n, num_hashes, bands, sim_threshold
        )
        res = res.localCheckpoint()  # decide ONCE, feed two writes
        admitted = res.filter(F.col("dup_kind").isNull())
        admitted_sink(
            batch.join(admitted.select(id_col), id_col, "left_semi"), epoch_id
        )
        hcols = [f"h{i}" for i in range(num_hashes)]
        admitted.select(id_col, "fp", *hcols).write.mode("append").parquet(index_path)

    return handle


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two corpus versions — the dataset-ops
    companion of :func:`incremental_dedup` (that answers "is this NEW
    content?", this answers "what CHANGED between exports?"). Compares
    normalized exact fingerprints (``text.fingerprint``, the index
    convention) under a full outer join on id:

    Returns (id, status, fp_old, fp_new) with status ∈
    ``added`` (id only in new) / ``removed`` (id only in old) /
    ``changed`` (both, fingerprints differ) / ``unchanged``.

    Scale: each side reduces to (id, fp) before the join — the shuffle
    carries two 2-column projections, never document text; the join is
    one sort-merge on id (or broadcast if one snapshot is small).
    Downstream: ``filter(status != 'unchanged')`` is the regression
    report; feeding ``added``/``changed`` ids to the dedup/curation
    chain is the standard incremental re-process step. Fully
    SQL-replayable (md5 fingerprint + FULL OUTER JOIN + CASE) — an r8
    oracle candidate."""
    o = old.select(
        F.col(id_col).alias(id_col), tx.fingerprint(F.col(text_col)).alias("fp_old")
    )
    nw = new.select(
        F.col(id_col).alias(id_col), tx.fingerprint(F.col(text_col)).alias("fp_new")
    )
    return o.join(nw, id_col, "full_outer").select(
        id_col,
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") != F.col("fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
        "fp_old",
        "fp_new",
    )
