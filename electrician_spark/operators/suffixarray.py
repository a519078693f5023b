"""Suffix-array-family substring analysis (Lee et al. 2022 §4).

The reference-side capability is exact substring dedup at corpus scale
("Deduplicating Training Data Makes Language Models Better": build a
suffix array over the tokenized corpus, read duplicated runs off
adjacent-suffix LCPs). A literal suffix array is the single-machine
idiom; the Spark-first re-expression splits the capability into the
two things it is actually used for:

- **Equality of fixed-length windows** (the dedup workhorse): prefix
  DOUBLING over per-document windows — level-k fingerprint identifies
  the 2^k-token window at each position, built as
  ``md5(fp_k[p] || fp_k[p+2^k])``. Any window length L then costs
  O(1) per site from two stored levels (``2^k <= L < 2^(k+1)``:
  the L-window equals the pair (fp_k[p], fp_k[p+L-2^k]) — the classic
  sparse-table/doubling LCP identity). Total cost O(N log L) hash ops
  and ONE exchange (every level is a ``lead`` over the same
  partitionBy(doc).orderBy(pos) window, so Spark sorts once and
  stacks the window operators), versus O(N·L) token hashing for the
  naive fixed-window fingerprint at large L. Equality is by 128-bit
  md5 — collision odds ~2^-64 at billions of windows, the same
  contract every fingerprint in this package rides on.

- **Suffix ORDER** (rank/lexicographic applications): true prefix
  doubling (Manber-Myers / Flick & Aluru's distributed form) with
  order-preserving dense ranks per level. The global dense rank is
  range-partition + per-partition rank + bounded per-partition offset
  collect (one row per partition) — never a single-reducer window.

Reference parity: the fixed-window detector `repeated_ngram_spans`
(dedup.py) and `sa_duplicated_spans` here are pinned EQUAL in tests;
this module is the scale path for large ``min_len`` and adds the
order-based operators (suffix_array, longest_repeated_run).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from electrician_spark.operators.dedup import _tokens_table

_SEP = "\x1f"


def _doc_window(id_col: str = "_id", pos_col: str = "_pos"):
    return Window.partitionBy(id_col).orderBy(pos_col)


def _nonempty_tokens() -> Column:
    """Whitespace tokenization yields a single '' token for empty /
    all-whitespace text (split-of-empty-string semantics); the suffix
    family must see ZERO positions there — both to match the oracle
    convention (DuckDB list_filter(x <> '')) and because a phantom
    empty-token suffix is meaningless for dedup."""
    return F.filter(F.col("_tk"), lambda x: F.length(x) > 0)


def _positions(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, _pos, _len, _fp0) positional token table; _fp0 = md5 of
    the single token (fixed-width level-0 fingerprint, so later-level
    concat fingerprints never ambiguity-collide on token boundaries)."""
    tk = _tokens_table(docs, id_col, text_col)
    # The filtered token array is aliased in its OWN projection below
    # the generator: a computed sibling expression in the same select
    # as posexplode lands ABOVE the Generate and re-evaluates per
    # exploded row — size(filter(_tk)) was an interpreted HOF running
    # once per token position, O(len²) per document (the r13 q_ug1 /
    # langid-gram hazard; measured 1.50 s → 0.33 s on this table at
    # sf0.1 for identical output).
    base = tk.select("_id", _nonempty_tokens().alias("_tka"))
    return base.select(
        "_id",
        F.size("_tka").alias("_len"),
        F.posexplode("_tka").alias("_pos", "_tok"),
    ).select("_id", "_pos", "_len", F.md5("_tok").alias("_fp0"))


def _with_doubling_fps(pos: DataFrame, max_level: int) -> DataFrame:
    """Append _fp1.._fp{max_level}: _fp{k}[p] identifies tokens
    [p, p+2^k) exactly (NULL when the window overruns the document).
    Every level is one ``lead`` over the same per-document window, so
    the whole ladder costs ONE exchange + one sort."""
    w = _doc_window()
    out = pos
    for k in range(max_level):
        half = 1 << k
        nxt = F.lead(f"_fp{k}", half).over(w)
        out = out.withColumn(
            f"_fp{k + 1}",
            F.when(
                nxt.isNotNull(),
                F.md5(F.concat_ws(_SEP, F.col(f"_fp{k}"), nxt)),
            ),
        )
    return out


def window_fingerprints(
    docs: DataFrame,
    window_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, pos, fp): md5-equality fingerprint of the ``window_len``-
    token window at each position where it fits. O(1) per site from
    the doubling ladder: fp = md5(fp_k[p] || fp_k[p + L - 2^k]) with
    2^k <= L — the two half-windows cover [p, p+L) exactly, so fp
    equality <=> window equality (mod md5)."""
    if window_len < 1:
        raise ValueError(f"window_len must be >= 1, got {window_len}")
    k = int(math.floor(math.log2(window_len)))
    pos = _with_doubling_fps(_positions(docs, id_col, text_col), k)
    shift = window_len - (1 << k)
    fpk = F.col(f"_fp{k}")
    other = F.lead(f"_fp{k}", shift).over(_doc_window()) if shift else fpk
    fp = fpk if shift == 0 else F.md5(F.concat_ws(_SEP, fpk, other))
    return (
        pos.withColumn("_wfp", fp)
        .filter(F.col("_pos") + window_len <= F.col("_len"))
        .select(
            F.col("_id").alias(id_col),
            F.col("_pos").alias("pos"),
            F.col("_wfp").alias("fp"),
        )
    )


def sa_duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 8,
    keep: str | None = None,
) -> DataFrame:
    """Maximal duplicated token spans (id, start_tok, end_tok,
    n_tokens) — the suffix-doubling form of
    :func:`dedup.repeated_ngram_spans`, pinned output-EQUAL to it in
    tests. Detection: flag every position whose min_len-token window
    occurs >= 2 times corpus-wide (``keep='first'`` exempts the
    lexicographically-first (id, pos) site of each window so one copy
    survives a downstream strip); merge flagged starts into maximal
    [start, end) intervals per document. A duplicated run of exact
    length R >= min_len flags starts p0..p0+R-min_len, so the merged
    span is exactly [p0, p0+R) — maximality without ever computing an
    LCP. Scale shape: the O(N log min_len) ladder above plus the same
    one-groupBy/one-join-back flagging as the fixed-window path, but
    with O(1) per-site hashing — the honest win at large min_len
    (Lee 2022 uses 50-token runs)."""
    if keep not in ("first", None):
        raise ValueError(f"keep must be 'first' or None, got {keep!r}")
    sites = window_fingerprints(docs, min_len, id_col, text_col).select(
        F.col(id_col).alias("_id"), F.col("pos").alias("_p"), F.col("fp").alias("_fp")
    )
    sites = sites.localCheckpoint(eager=False)
    grouped = sites.groupBy("_fp").agg(
        F.count("*").alias("_cnt"),
        F.min(F.struct(F.col("_id").alias("i"), F.col("_p").alias("p"))).alias(
            "_first"
        ),
    )
    flagged = sites.join(grouped.filter(F.col("_cnt") >= 2), "_fp")
    if keep == "first":
        flagged = flagged.filter(
            (F.col("_id") != F.col("_first.i")) | (F.col("_p") != F.col("_first.p"))
        )
    spans = flagged.select(
        "_id", F.col("_p").alias("_s"), (F.col("_p") + min_len).alias("_e")
    )
    w = Window.partitionBy("_id").orderBy("_s")
    prev_end = F.max("_e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    grp = F.sum(
        F.when(prev_end.isNull() | (F.col("_s") > prev_end), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        spans.withColumn("_g", grp)
        .groupBy("_id", "_g")
        .agg(F.min("_s").alias("start_tok"), F.max("_e").alias("end_tok"))
        .select(
            F.col("_id").alias(id_col),
            "start_tok",
            "end_tok",
            (F.col("end_tok") - F.col("start_tok")).alias("n_tokens"),
        )
    )


def longest_repeated_run(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 1,
) -> int:
    """Length of the longest token run occurring >= 2 times corpus-wide
    (0 if none of length >= min_len): binary search on the run length,
    each probe one window-fingerprint duplicate-existence check — the
    suffix-array "max adjacent LCP" read, re-expressed as O(log maxlen)
    bounded aggregates instead of a corpus-wide LCP array. The doubling
    ladder is built ONCE at the max level the search can touch and
    materialized (lazy localCheckpoint); every probe then derives its
    window fingerprint from two stored levels — without the shared
    ladder each probe would rebuild (and re-scan) the whole corpus."""
    pos0 = _positions(docs, id_col, text_col)
    hi = int(pos0.agg(F.max("_len").alias("m")).first()["m"] or 0)
    lo = min_len
    if hi < lo:
        return 0
    max_level = int(math.floor(math.log2(hi))) if hi > 1 else 0
    pos = _with_doubling_fps(pos0, max_level)
    pos = pos.localCheckpoint(eager=False)
    w = _doc_window()

    def has_dup(length: int) -> bool:
        k = int(math.floor(math.log2(length)))
        shift = length - (1 << k)
        fpk = F.col(f"_fp{k}")
        fp = fpk if shift == 0 else F.md5(
            F.concat_ws(_SEP, fpk, F.lead(f"_fp{k}", shift).over(w))
        )
        fps = (
            pos.withColumn("_wfp", fp)
            .filter(F.col("_pos") + length <= F.col("_len"))
        )
        return (
            fps.groupBy("_wfp")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= 2)
            .limit(1)
            .count()
            > 0
        )

    if not has_dup(lo):
        return 0
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if has_dup(mid):
            lo = mid
        else:
            hi = mid - 1
    return lo


def _shuffle_partitions(spark) -> int:
    """spark.sql.shuffle.partitions as an int, falling back to the
    context default parallelism when the conf is non-numeric (e.g.
    'auto' under AQE auto-partition-tuning on some platforms)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return int(spark.sparkContext.defaultParallelism) or 1


def _checkpoint_rdd_id(df: DataFrame) -> int | None:
    """RDD id of the localCheckpoint block backing ``df`` (whose
    analyzed plan must bottom out in a single LogicalRDD leaf), or
    None when the plan shape / py4j surface doesn't cooperate. Used
    for PRECISE release of intermediate doubling rounds — never a
    registry-wide sweep, so concurrently-running queries' persisted
    RDDs are untouchable by construction."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        if leaves.size() != 1:
            return None
        return int(leaves.apply(0).rdd().id())
    except Exception:  # noqa: BLE001 — e.g. Spark Connect: no _jdf
        return None


def _release_rdd(spark, rdd_id: int | None) -> None:
    if rdd_id is None:
        return
    try:
        spark.sparkContext._jsc.sc().unpersistRDD(int(rdd_id), False)
    except Exception:  # noqa: BLE001 — best-effort cleanup only
        pass


def _global_dense_rank(
    df: DataFrame, key_cols: list[str], out_col: str
) -> tuple[DataFrame, int]:
    """Order-preserving dense rank over arbitrary volume WITHOUT a
    single-reducer global window: range-repartition on the key (equal
    keys co-locate, partition index order == key order), sort within
    partitions, dense-rank each partition with ONE Arrow-vectorized
    pass (``mapInArrow`` — a map over the existing partitioning, so
    no second exchange; the window formulation used to force an extra
    hashpartitioning(_sa_pid) shuffle per round), then shift each
    partition by the exclusive prefix sum of per-partition
    distinct-key counts — a driver-side table bounded at one row per
    partition. The ranked table is eagerly localCheckpoint-ed before
    the offset collect so the collect and the downstream consumers see
    the SAME range boundaries (range partitioning samples;
    recomputation could re-draw boundaries and silently skew every
    rank). Returns (ranked df, distinct-key count) — the count falls
    out of the offset arithmetic for free and drives the caller's
    fixed-point early exit. Key columns must be non-null (callers use
    explicit sentinels, never NULL)."""
    spark = df.sparkSession
    n_part = _shuffle_partitions(spark)
    part = df.repartitionByRange(
        n_part, *[F.col(c) for c in key_cols]
    ).sortWithinPartitions(*key_cols)
    key_idx = [part.schema.fieldNames().index(c) for c in key_cols]
    out_schema = StructType(
        list(part.schema.fields)
        + [StructField("_sa_pid", IntegerType()), StructField("_sa_lr", LongType())]
    )
    names = [f.name for f in out_schema.fields]

    def _rank_partition(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        acc = 0
        prev: tuple | None = None
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            cols = [b.column(i) for i in key_idx]
            if n > 1:
                neq = None
                for c in cols:
                    d = pc.not_equal(c.slice(1, n - 1), c.slice(0, n - 1))
                    neq = d if neq is None else pc.or_(neq, d)
                flags = neq.to_numpy(zero_copy_only=False).astype(np.int64)
            else:
                flags = np.empty(0, dtype=np.int64)
            head = tuple(c[0].as_py() for c in cols)
            first_new = np.int64(1 if prev is None or head != prev else 0)
            ranks = np.concatenate([[first_new], flags]).cumsum() + acc
            acc = int(ranks[-1])
            prev = tuple(c[n - 1].as_py() for c in cols)
            yield pa.RecordBatch.from_arrays(
                list(b.columns)
                + [pa.array(np.full(n, pid, dtype=np.int32)), pa.array(ranks)],
                names=names,
            )

    local = part.mapInArrow(_rank_partition, out_schema)
    local = local.localCheckpoint(eager=True)
    sizes = {
        r["_sa_pid"]: r["_n"]
        for r in local.groupBy("_sa_pid").agg(F.max("_sa_lr").alias("_n")).collect()
    }
    acc = 0
    pairs: list[Column] = []
    for pid in sorted(sizes):
        pairs.extend([F.lit(pid), F.lit(acc)])
        acc += sizes[pid]
    omap = F.create_map(*pairs) if pairs else None
    off = omap[F.col("_sa_pid")] if omap is not None else F.lit(0)
    out = local.withColumn(
        out_col, (F.col("_sa_lr") + F.coalesce(off, F.lit(0))).cast("long")
    ).drop("_sa_pid", "_sa_lr")
    return out, acc


# Position-count bound for the COMPACT regime: below it every round's
# dense rank runs as ONE single-partition window over the corpus —
# a bounded task (4M rows x ~5 longs ~ 160 MB sort) with ZERO driver
# traffic, zero broadcasts, and zero materialization barriers: the
# whole array is one lazy pipelined plan. (The r11 design ranked a
# distinct-key DIMENSION table per round and broadcast-joined it back;
# measured at 270k positions that paid a distinct exchange + a
# single-partition window + a driver-side broadcast build + a join
# PER ROUND, plus per-2-round checkpoint barriers — 5.3 s where the
# pipelined form runs 0.9 s, and the leaked checkpoint blocks were the
# documented driver-heap degradation in long sessions. The dimension
# tables were 93% of corpus size on real text — corpora keep suffix
# classes nearly distinct after one round — so the broadcast bought
# nothing.) Above the bound the distributed range-partitioned path
# takes over, exactly like any bounded-task plan flips distributed
# when the data outgrows one task.
#
# Bound history: r12 set 1M from a pre-level-0-vocab A/B. The r15
# level-0 change cut the compact side's cost profile, and the r16
# refresh (`git show 2aba643:tools/r16_sx_regime_ab.py`, interleaved,
# outputs identical) reads compact/distributed = 3.54/8.30 s at 270k
# positions, 10.4/14.8 s at 1.28M, 38.7/58.7 s at 5.1M — compact wins every
# tested point, so the gate moves to 4M (the largest bound with a
# measured compact win ABOVE it). The single-task sort at the bound is
# 4M rows x ~5 longs ~ 160 MB — still a bounded task; past it the
# distributed path's per-round fixed costs are the right trade because
# the serial sort keeps growing linearly while range-partitioned rank
# does not.
_COMPACT_RANK_MAX_ROWS = 4_000_000


def suffix_array(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_rank_max_rows: int = _COMPACT_RANK_MAX_ROWS,
) -> DataFrame:
    """(id, pos, rank): the lexicographic rank of every token suffix
    docs[id][pos:] across the whole corpus — the distributed suffix
    array (Manber-Myers prefix doubling; Flick & Aluru 2015's
    distributed formulation). Ranks are dense over DISTINCT suffix
    contents: equal suffixes (identical token tails in different
    documents) share a rank, which is exactly what duplicate analysis
    wants; add (id, pos) tiebreak downstream for a strict permutation.

    Each round: per-document ``lead``s (suffix[p]'s order key becomes
    the tuple (rank[p], rank[p+h], ..., rank[p+(t-1)h]), 0-sentinel
    when past the end — end-of-document sorts before every real rank,
    giving true suffix order for short tails) and one
    :func:`_global_dense_rank`. The radix ``t`` ADAPTS to the class
    count: while (n_classes+2)^t fits in a signed 64-bit value the t
    digits pack into ONE long (positional number system — order-
    preserving, single-column range sort), and each round multiplies
    the identified prefix length by t instead of 2 — radix-4 halves
    the round count of classic Manber-Myers, and every round saved is
    a saved exchange + materialization barrier. At most
    ceil(log_t(max doc length)) rounds — O(N log maxdoc) total shuffle
    volume with no per-doc-length driver state. Two early exits: (a)
    all suffixes separated (n_classes == row count — equal ranks can
    only be equal suffixes from then on), (b) the REFINEMENT FIXED
    POINT: if a round splits no class, no later round can (classes
    closed under shift by h are closed under every longer shift — the
    standard Manber-Myers exit; duplicated tails keep n_classes below
    the row count forever, so (b) is the exit that fires on corpora
    with true duplicate suffixes). Intermediate rounds' checkpoint
    blocks are released precisely (by RDD id) once the next round is
    materialized — never a registry sweep.

    TWO physical regimes, routed by corpus position count:

    - **Compact regime** (positions <= ``compact_rank_max_rows``):
      every round's dense rank is ONE single-partition window over
      the corpus (``dense_rank() OVER (ORDER BY packed key)``) — a
      bounded task under the regime gate (4M rows x ~5 longs ~ 160 MB
      sort; WindowExec's no-partition warning here is the bounded
      contract, not an accident). The whole array is then ONE lazy
      pipelined plan: no distinct tables, no broadcasts, no driver
      collects, no materialization barriers (lineage is cut only
      every 4th round to bound plan depth on deep corpora — typical
      corpora finish in 2-3 rounds and never cut). Rank values are
      dense over distinct keys, order-preserving, and <= positions —
      exactly what the next round's digit packing needs.
    - **Distributed regime** (above the bound): per-round
      range-partition + Arrow per-partition rank + bounded offset
      collect (:func:`_global_dense_rank`), with the fixed-point and
      all-distinct early exits. This is the 100-TB shape — the
      compact regime's single-partition window would die there,
      exactly like any bounded-task plan flips distributed when the
      data outgrows one task.

    Collation: level 0 ranks tokens by their UTF-8 byte encoding
    (``encode(token, 'UTF-8')`` — binary sort), matching DuckDB's
    default binary collation and code-POINT order; Spark's native
    string sort is UTF-16 code-UNIT order, which diverges for
    supplementary-plane characters."""
    spark = docs.sparkSession
    tk = _tokens_table(docs, id_col, text_col)
    # Rank the RAW token bytes at level 0 (not a hash — hashing would
    # scramble the lexicographic order the suffix array promises).
    toks = _nonempty_tokens()
    # (no _len column: unlike the fingerprint family, suffix ranking
    # never window-bounds against document length — carrying it
    # through every round's sort was pure dead weight)
    pos = tk.select(
        "_id", F.posexplode(toks).alias("_pos", "_tok")
    ).select("_id", "_pos", F.encode("_tok", "UTF-8").alias("_key"))
    # Routing stats come from the TOKEN-ARRAY table (one row per doc,
    # max/sum of array sizes) — never from the exploded position table,
    # which is corpus-positions-sized. (No vocabulary count anywhere:
    # the r12 compact rebuild packs every round's digits against
    # base = n_total + 2, so neither regime pays a corpus-wide
    # distinct for routing.)
    # NULL-robust sizes: under legacy sizeOfNull (ANSI off — Spark <4
    # defaults) size(NULL) is -1, which would UNDERCOUNT n_total for
    # NULL-text docs — mis-routing the regime and, at the exact
    # boundary, under-sizing base (= n_total + 2) in the packed
    # rounds, where a digit reaching base corrupts the
    # order-preserving packing. Clamp to 0 regardless of ANSI setting.
    sz = F.greatest(F.coalesce(F.size(toks), F.lit(0)), F.lit(0))
    stats = tk.agg(F.max(sz).alias("m"), F.sum(sz).alias("n")).first()
    maxlen = int(stats["m"] or 0)
    n_total = int(stats["n"] or 0)
    w = _doc_window()

    if n_total <= compact_rank_max_rows:
        # Level 0 (r15): dense rank via the DISTINCT token vocabulary —
        # rank the (much smaller) vocab in one bounded single-partition
        # window, then broadcast-join ranks back onto the corpus rows.
        # The earlier form ran the single-partition window over ALL
        # positions, i.e. a serial byte-string sort of the whole corpus
        # in one task; real corpora have |vocab| ≪ positions, so the
        # serial sort shrinks to the vocabulary and the join back is a
        # broadcast hash probe with no exchange of the position table —
        # and round 1's per-doc lead window then runs on the scan's own
        # partitioning (parallel) instead of inside the single
        # partition (guide §2.2/§2.4; measured ~8% on q_sx1 at sf0.1
        # plus the de-serialized round-1 sort). Bounded: vocab rows ≤
        # positions ≤ compact_rank_max_rows by the regime gate, and the
        # LATER rounds keep the all-rows window — suffix classes go
        # near-distinct after one round (the r11 lesson), so only
        # level 0 has a small dimension to exploit. Unlike the r11
        # design this is one broadcast for the whole call, not one per
        # round. Ranks are identical by construction: dense rank of a
        # key in the distinct sorted vocabulary equals its dense rank
        # over all rows.
        vocab = pos.select("_key").distinct().withColumn(
            "_r", F.dense_rank().over(Window.orderBy("_key")).cast("long")
        )
        ranked = pos.join(F.broadcast(vocab), "_key").drop("_key")
        # Radix per round: digits are ranks+1 <= n_total+1 < base, so
        # per-long capacity is fixed for the whole call (>= 2 at the
        # 4M bound; (base-1).bit_length() is exact ceil(log2) — no
        # float edge at powers of two; per_long*bits <= 63 keeps each
        # packed long < 2^63, and the multi-long key compares
        # lexicographically exactly like the digit tuple). Five longs
        # / 16-digit cap: t ~ 15-16 digits per round multiplies the
        # identified prefix length 15x per round (vs 2x for classic
        # Manber-Myers), and the lead stack + pack + window all fuse
        # into the one pipelined plan.
        base = n_total + 2
        bits = (base - 1).bit_length()
        per_long = max(1, 63 // bits)
        t = max(2, min(16, per_long * 5))
        half = 1
        rounds = 0
        while half < maxlen:
            # Digit/pack expressions as parsed SQL strings (the
            # _minhash_aggs py4j note): the Column form cost ~8 JVM
            # round trips per lead digit, ~130 per round at t=16. The
            # t-1 lead exprs share one window spec, so the optimizer
            # collapses them into the same single Window node either
            # way — the executed plan is unchanged.
            _over = "OVER (PARTITION BY _id ORDER BY _pos)"

            def _digit(j: int) -> str:
                if j == 0:
                    return "_r"
                return (
                    f"coalesce(lead(_r, {half * j}) {_over} + "
                    f"CAST(1 AS BIGINT), CAST(0 AS BIGINT))"
                )

            packs_sql: list[str] = []
            for ci in range(0, t, per_long):
                v = _digit(ci)
                for j in range(ci + 1, min(ci + per_long, t)):
                    v = f"({v} * {base} + {_digit(j)})"
                packs_sql.append(f"{v} AS _v{len(packs_sql)}")
            vcols = [f"_v{i}" for i in range(len(packs_sql))]
            keyed = ranked.selectExpr("_id", "_pos", *packs_sql)
            ranked = keyed.withColumn(
                "_r", F.dense_rank().over(Window.orderBy(*vcols)).cast("long")
            ).drop(*vcols)
            # Each round is consumed ONCE (the next round's select) —
            # no plan doubling, so no per-round cut. A lazy cut every
            # 4th round only bounds optimizer time on very deep
            # corpora (t ~ 15: 4 rounds already identify 50k-token
            # prefixes; typical corpora finish in 2-3 rounds with the
            # whole array as one pipelined plan). The cut is a leaf
            # that keeps the child's partitioning and ordering and
            # materializes inside the final action, not as a driver
            # barrier.
            rounds += 1
            if rounds % 4 == 0:
                ranked = ranked.localCheckpoint(eager=False)
            half *= t
        return ranked.select(
            F.col("_id").alias(id_col),
            F.col("_pos").alias("pos"),
            (F.col("_r") - 1).alias("rank"),
        )

    ranked, n_classes = _global_dense_rank(pos, ["_key"], "_r")
    ranked = ranked.drop("_key")
    prev_ckpt = _checkpoint_rdd_id(ranked)
    half = 1
    while half < maxlen and n_classes < n_total:
        base = n_classes + 2  # digits are ranks+1 in [0, n_classes+1]
        if base < (1 << 15):
            t = 4
        elif base < (1 << 20):
            t = 3
        else:
            t = 2
        sent = F.lit(0).cast("long")
        digits = [
            F.coalesce(F.lead("_r", half * j).over(w) + 1, sent)
            for j in range(1, t)
        ]
        if base < (1 << 31):  # pack the t-digit key into one long
            v = F.col("_r").cast("long")
            for d in digits:
                v = v * base + d
            keyed = ranked.select("_id", "_pos", v.alias("_v"))
            key_cols = ["_v"]
        else:  # ranks too wide to pack — fall back to a 2-column key
            keyed = ranked.select(
                "_id", "_pos", "_r", digits[0].alias("_v")
            )
            key_cols = ["_r", "_v"]
        ranked, n_new = _global_dense_rank(keyed, key_cols, "_rn")
        ranked = ranked.select("_id", "_pos", F.col("_rn").alias("_r"))
        new_ckpt = _checkpoint_rdd_id(ranked)
        _release_rdd(spark, prev_ckpt)
        prev_ckpt = new_ckpt
        if n_new == n_classes:  # fixed point: no class split this round
            break
        n_classes = n_new
        half *= t
    return ranked.select(
        F.col("_id").alias(id_col),
        F.col("_pos").alias("pos"),
        (F.col("_r") - 1).alias("rank"),
    )
