"""Declared-query registry — the driver correctness surface.

Every operator capability from SURVEY.md §2 gets:
- a Spark implementation ``(spark, sf_dir) -> DataFrame`` routed through
  the engine API (electrician_spark.operators / functions / streaming),
- an equivalent ANSI-SQL oracle string for DuckDB over the same parquet
  fixtures (views: region nation customer supplier part orders lineitem
  events documents embeddings).

Determinism rules (FIXTURES.md §4): every LIMIT carries a total-order
tiebreak; double aggregates rounded (sums 2dp, ratios/avgs 6dp)
identically on both sides; column names aliased identically on both
sides (the driver sorts columns by name before hashing).

NOTE: the driver fixtures differ from FIXTURES.md in places (events has
``ts/event_type/props`` rather than the envelope columns; lineitem has
no comment/shipmode columns) — queries below target the *actual* schemas
observed in /root/testdata.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from electrician_spark.functions import scalar as sf
from electrician_spark.io import read_table
from electrician_spark.operators import relational as rel
from electrician_spark.operators import temporal
from electrician_spark.operators import priority as prio
from electrician_spark.streaming import windows as win
from electrician_spark.streaming.sinks import await_stream

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    spark: SparkQuery
    oracle: str | None
    tags: tuple[str, ...] = ()
    bench: bool = False


# Declaration order carries no meaning: ``__spark_entry__.queries()`` orders
# the rows for the external correctness gate.
REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None, tags: tuple[str, ...] = (), bench: bool = False):
    def deco(fn: SparkQuery) -> SparkQuery:
        REGISTRY[name] = QueryDef(name=name, spark=fn, oracle=oracle, tags=tags, bench=bench)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def TS(s: str):
    return F.lit(s).cast("timestamp")


@contextmanager
def _session_conf(spark: SparkSession, key: str, value: str):
    """Set one session conf for the block; the caller's value is restored
    on exit, exceptions included."""
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _state_partitions(spark: SparkSession, n: int = 2):
    """Run a streaming query with ``n`` shuffle (= state) partitions.

    A stateful query freezes its state-partition count from the session
    conf when it starts, so the session's count (200 by default) would
    mean hundreds of near-empty state tasks per micro-batch for rows
    that carry a handful of keys. Each state partition costs a task and
    a state-store commit per micro-batch whatever its rows. Over the nine
    stateful rows at sf0.1 on 4 cores, the summed median per-batch
    ``triggerExecution`` read 15.4 s at n=2, 17.0 s at 4 and 22.9 s at 8
    (3 interleaved reps, identical outputs); n=2 was fastest on eight
    rows and within 4% on q_ev1."""
    return _session_conf(spark, "spark.sql.shuffle.partitions", str(n))


def _epoch_ts(t0_epoch: int, off: dict[int, int]):
    """Column ``t0_epoch + off[event_id]`` (epoch seconds, long); ids
    missing from ``off`` get ``t0_epoch``."""
    ts = F.lit(t0_epoch).cast("long")
    for i, o in off.items():
        ts = ts + F.when(F.col("event_id") == i, o).otherwise(0)
    return ts


def _round_trip(save: Callable[[str], None], load: Callable[[str], object], name: str):
    """Write an artifact with ``save(path)`` into a temp dir, read it
    back with ``load(path)`` and delete the dir. The loaded model is a
    driver-side Python object, so nothing reads the file afterwards."""
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, name)
        save(path)
        return load(path)


def _memory_run(
    spark: SparkSession,
    prefix: str,
    build: Callable[[str], DataFrame],
    *,
    paced: tuple[int, int] | None = None,
    no_data_batches: bool = True,
) -> DataFrame:
    """Run a bounded stream into a memory sink and return the sink's table.

    ``build(src)`` writes what the stream reads at ``src``, a path in a
    fresh temp dir, and returns the streaming DataFrame. The query gets
    a unique name, a checkpoint in the same temp dir and
    ``_state_partitions``, and completes through ``await_stream``. It
    runs on the availableNow trigger and is complete when it
    terminates. A paced source's available-now snapshot covers only its
    first poll window, so a stream given ``paced=(rows, per_trigger)``
    runs on a processing-time trigger until the sink holds ``rows``
    rows; it must end with exactly ``rows`` rows, delivered in at least
    ceil(rows / per_trigger) non-empty micro-batches. The temp dir is
    deleted on the way out: the memory sink keeps its rows in the
    driver.

    ProcessingTimeTimeout state turns every no-data micro-batch into a
    timer batch, so an availableNow query over it never terminates and
    ``stop()`` would interrupt a timer batch in flight.
    ``no_data_batches=False`` ends it after its last data batch instead;
    timeouts still fire in data batches, for keys with no rows in the
    batch. Watermarked queries need the no-data batches, which emit
    what the last watermark advance finalized."""
    import os
    import shutil
    import tempfile
    import uuid

    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        stream = build(os.path.join(tmp, "src"))
        name = f"{prefix}sink_{uuid.uuid4().hex[:8]}"
        if paced is None:
            trigger, done = {"availableNow": True}, None
        else:
            rows, per_trigger = paced
            trigger = {"processingTime": "100 milliseconds"}
            done = lambda: spark.table(name).count() >= rows  # noqa: E731
        no_data = str(no_data_batches).lower()
        with _state_partitions(spark), _session_conf(
            spark, "spark.sql.streaming.noDataMicroBatches.enabled", no_data
        ):
            q = (
                stream.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                .trigger(**trigger)
                .start()
            )
            await_stream(q, done=done)
        out = spark.table(name)
        if paced is not None:
            got = out.count()
            batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
            if got != rows or batches < -(-rows // per_trigger):
                raise AssertionError(
                    f"{name} consumed {got} of {rows} rows in {batches} "
                    f"non-empty micro-batch(es), at most {per_trigger} a batch"
                )
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# §2.1 Sources / scans (S5/S6 pushdown semantics)
# ---------------------------------------------------------------------------


@query(
    "q_s1_full_scan",
    "SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty FROM lineitem",
    tags=("scan",),
    bench=True,
)
def q_s1(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").agg(
        F.count("*").alias("n_rows"), rel.round2(F.sum("l_quantity")).alias("sum_qty")
    )


@query(
    "q_s2_projection_pushdown",
    "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
    "ORDER BY l_orderkey, l_linenumber LIMIT 100",
    tags=("scan",),
)
def q_s2(spark, sf_dir):
    # Reference S5 FormatOptions["columns"] projection — Catalyst prunes
    # the parquet ReadSchema to exactly these columns.
    from electrician_spark.io import scan_projected
    import os

    df = scan_projected(
        spark,
        os.path.join(sf_dir, "lineitem.parquet"),
        columns=["l_orderkey", "l_linenumber", "l_extendedprice"],
    )
    return rel.top_k(df, [F.col("l_orderkey"), F.col("l_linenumber")], 100)


@query(
    "q_s3_predicate_pushdown",
    "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000 "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    tags=("scan",),
)
def q_s3(spark, sf_dir):
    # Reference S6 Postgres reader WHERE/ORDER BY/LIMIT pushdown
    # (postgresclient/reader.go:103-131) — here the filter pushes into
    # the parquet scan and the sort+limit is TakeOrderedAndProject.
    df = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return rel.top_k(
        df.select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        10,
    )


# ---------------------------------------------------------------------------
# §2.2 Transforms (projection / filter / classify / hash / encode)
# ---------------------------------------------------------------------------


@query(
    "q_ac1_blocklist_scan",
    "WITH corpus_terms AS ("
    "SELECT DISTINCT lower(w) AS term "
    "FROM documents, unnest(string_split(text, ' ')) AS t(w) "
    "WHERE length(lower(w)) BETWEEN 4 AND 12 "
    "AND regexp_matches(lower(w), '^[a-z]+$')), "
    "terms AS (SELECT term FROM corpus_terms UNION "
    "SELECT md5(CAST(i AS VARCHAR)) FROM range(976) AS r(i)), "
    "hits AS (SELECT t.term AS term, count(*) AS n_docs "
    "FROM terms t JOIN documents d ON d.text LIKE '%' || t.term || '%' "
    "GROUP BY t.term) "
    "SELECT term, CAST(n_docs AS BIGINT) AS n_docs FROM hits "
    "ORDER BY n_docs DESC, term LIMIT 50",
    tags=("transform", "keywordscan"),
)
def q_ac1(spark, sf_dir):
    # T3 keyword filtering at curation-blocklist scale (reference toy
    # form: example/conduit_example/chain/main.go:22 — 4 terms; real
    # blocklists run 10^4-10^5 terms, where contains_any's one-predicate-
    # per-term codegen is O(terms * text) and the Aho-Corasick automaton's
    # single pass is O(text + matches)). Per-term document hit counts
    # from ONE corpus scan (operators/keywordscan.keyword_hits) over a
    # 1k-term blocklist: every corpus word (the fixture vocabulary) plus
    # 976 synthetic md5-hex terms that exercise automaton size without
    # matching. The oracle replays ALL terms through a LIKE join, so
    # even an accidental synthetic hit would reproduce identically on
    # both sides — the gate stays exact, not probabilistic. The term
    # list is collected ONCE (vocabulary-bounded, the tokenizer-training
    # posture); the automaton ships in the UDF closure —
    # vocabulary-sized, never corpus-sized.
    import hashlib

    from electrician_spark.operators.keywordscan import keyword_hits

    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .select(F.lower(F.col("w")).alias("term"))
        .filter(
            (F.length("term") >= 4)
            & (F.length("term") <= 12)
            & F.col("term").rlike("^[a-z]+$")
        )
        .distinct()
    )
    corpus_terms = sorted(r.term for r in words.collect())
    synthetic = [hashlib.md5(str(i).encode()).hexdigest() for i in range(976)]
    per_doc = keyword_hits(docs.select("doc_id", "text"), corpus_terms + synthetic)
    per_term = (
        per_doc.select(F.explode("keyword_hits").alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    return rel.top_k(per_term, [F.col("n_docs").desc(), F.col("term")], 50)


# ---------------------------------------------------------------------------
# §2.4 Aggregations (meter family)
# ---------------------------------------------------------------------------


@query(
    "q_a1_pricing_summary",
    "SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty, "
    "round(sum(l_extendedprice),2) AS sum_base_price, "
    "round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price, "
    "round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge, "
    "round(avg(l_quantity),6) AS avg_qty, round(avg(l_extendedprice),6) AS avg_price, "
    "round(avg(l_discount),6) AS avg_disc, count(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02' "
    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    tags=("agg",),
    bench=True,
)
def q_a1(spark, sf_dir):
    return rel.pricing_summary(_t(spark, sf_dir, "lineitem"), "2000-09-02")


@query(
    "q_q1_grouped_quantiles",
    "SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 6) AS p50, "
    "round(quantile_cont(l_extendedprice, 0.9), 6) AS p90, "
    "round(quantile_cont(l_extendedprice, 0.99), 6) AS p99 "
    "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    tags=("agg", "quantile"),
)
def q_q1(spark, sf_dir):
    # Exact percentiles (ANSI percentile_cont semantics: linear
    # interpolation at rank p*(n-1)); operators/olap.approx_quantiles is
    # the sketch-backed scale path with the same call shape.
    from electrician_spark.operators import olap

    return olap.grouped_quantiles(
        _t(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        probs=(0.5, 0.9, 0.99),
        group_cols=["l_returnflag"],
    ).orderBy("l_returnflag")


# Planted C4 page structure: '. ' sentence breaks become newlines, and
# doc_id-keyed marker lines exercise every gate — a no-terminal-punct
# line (line filter), a javascript line, a lorem-ipsum line, a
# curly-brace code line, and a blocklisted phrase (page gates). Both
# engines build the SAME planted text, so the oracle replays the
# battery with RE2-portable regexes (the C4 patterns were chosen for
# exactly this — no lookaround).
_C4_MARKS = (
    (4, "\nclick here"),  # no terminal punct + <3 words -> line dropped
    (5, "\nPlease enable javascript to continue browsing."),
    (7, "\nlorem ipsum dolor sit amet consectetur."),
    (11, "\nfunction f() { return 1; }"),
    (13, "\nClick now to win a prize instantly."),
)


@query(
    "q_c4_1_c4_cleaning",
    "WITH planted AS (SELECT doc_id, lang, "
    "replace(text, '. ', '.' || chr(10)) AS t0 FROM documents), "
    "marked AS (SELECT doc_id, lang, t0 "
    + "".join(
        f"|| (CASE WHEN doc_id % {m} = 0 THEN chr(10) || {s[1:]!r} ELSE '' END) "
        for m, s in _C4_MARKS
    )
    + "AS text FROM planted), "
    "kept AS (SELECT doc_id, lang, list_filter(string_split(text, chr(10)), "
    "l -> regexp_matches(rtrim(l), '[.!?][\"”’]?$') AND "
    "len(list_filter(string_split_regex(trim(l), '\\s+'), t -> t <> '')) >= 3) "
    "AS lines FROM marked), "
    # array_to_string([]) is NULL in DuckDB but '' in Spark's
    # array_join — coalesce so the page gates see the same empty page
    "clean AS (SELECT doc_id, lang, len(lines) AS n_kept, "
    "coalesce(array_to_string(lines, chr(10)), '') AS text FROM kept), "
    "flags AS (SELECT lang, n_kept, length(text) AS n_chars, "
    "len(regexp_extract_all(text, '[.!?][\"”’]?(\\s+|$)')) >= 3 AS s_ok, "
    "NOT contains(lower(text), 'lorem ipsum') AS lorem_ok, "
    "NOT contains(text, '{') AS curly_ok, "
    "len(list_filter(string_split(lower(text), chr(10)), "
    "l -> regexp_matches(l, '\\bjavascript\\b'))) = 0 AS js_ok, "
    "NOT contains(lower(text), 'win a prize') AS block_ok FROM clean) "
    "SELECT lang, count(*) AS n_pages, "
    "CAST(sum(CASE WHEN s_ok AND lorem_ok AND curly_ok AND js_ok AND block_ok "
    "THEN 1 ELSE 0 END) AS BIGINT) AS n_pass, "
    "CAST(sum(CASE WHEN s_ok THEN 0 ELSE 1 END) AS BIGINT) AS n_sent_fail, "
    "CAST(sum(CASE WHEN lorem_ok THEN 0 ELSE 1 END) AS BIGINT) AS n_lorem_fail, "
    "CAST(sum(CASE WHEN curly_ok THEN 0 ELSE 1 END) AS BIGINT) AS n_curly_fail, "
    "CAST(sum(CASE WHEN js_ok THEN 0 ELSE 1 END) AS BIGINT) AS n_js_fail, "
    "CAST(sum(CASE WHEN block_ok THEN 0 ELSE 1 END) AS BIGINT) AS n_block_fail, "
    "CAST(sum(n_kept) AS BIGINT) AS lines_kept, "
    "CAST(sum(n_chars) AS BIGINT) AS chars_clean "
    "FROM flags GROUP BY lang ORDER BY lang",
    tags=("text", "c4"),
)
def q_c4_1(spark, sf_dir):
    # The full C4 cleaning battery (Raffel et al. 2020 §2.2) as
    # first-class operators: c4_line_filter (terminal-punctuation +
    # min-words line retention, codegen'd array filter — no explode)
    # then c4_page_flags over the CLEANED text (sentence count, lorem
    # ipsum, curly brace, javascript lines, blocklist). One scan, one
    # narrow projection, the only exchange is the final tiny
    # groupBy(lang) — the same zero-shuffle posture as the Gopher
    # battery (every rule is a function of one page).
    from electrician_spark.functions import text as tx

    marks = "".join(
        f"|| (CASE WHEN doc_id % {m} = 0 THEN concat(chr(10), {s[1:]!r}) "
        "ELSE '' END) "
        for m, s in _C4_MARKS
    )
    planted = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr(
            f"replace(text, '. ', concat('.', chr(10))) {marks}"
        ).alias("text"),
    )
    cleaned = tx.c4_line_filter(planted, "text", min_words_per_line=3)
    flagged = cleaned.select(
        "lang",
        F.when(F.col("text") == "", F.lit(0))
        .otherwise(F.size(F.split("text", "\n")))
        .alias("n_kept"),
        F.length("text").alias("n_chars"),
        tx.c4_page_flags(
            F.col("text"), min_sentences=3, blocklist=("win a prize",)
        ).alias("f"),
    )

    def fails(name):
        return F.sum(F.when(F.col(f"f.{name}"), 0).otherwise(1)).cast("long")

    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.when(F.col("f.passes"), 1).otherwise(0))
            .cast("long")
            .alias("n_pass"),
            fails("sentence_count_ok").alias("n_sent_fail"),
            fails("no_lorem_ipsum").alias("n_lorem_fail"),
            fails("no_curly_brace").alias("n_curly_fail"),
            fails("no_javascript_line").alias("n_js_fail"),
            fails("no_blocklisted").alias("n_block_fail"),
            F.sum("n_kept").cast("long").alias("lines_kept"),
            F.sum("n_chars").cast("long").alias("chars_clean"),
        )
        .orderBy("lang")
    )


@query(
    "q_a7_rollup_subtotals",
    "SELECT coalesce(l_returnflag, 'ALL') AS returnflag, "
    "coalesce(l_linestatus, 'ALL') AS linestatus, "
    "GROUPING(l_returnflag, l_linestatus) AS grouping_level, "
    "round(sum(l_quantity), 2) AS sum_qty, count(*) AS n "
    "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) "
    "ORDER BY grouping_level, returnflag, linestatus",
    tags=("agg", "rollup"),
)
def q_a7(spark, sf_dir):
    # Hierarchical subtotal grid in ONE shuffle: Spark's Expand feeds a
    # partial HashAggregate, so the exchange carries one row per
    # (group, level), not per input row per level. grouping_id() uses
    # the same bitmask convention as ANSI GROUPING(a, b).
    from electrician_spark.operators import olap

    rolled = olap.rollup_agg(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        [rel.round2(F.sum("l_quantity")).alias("sum_qty"), F.count("*").alias("n")],
    )
    return rolled.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
        "grouping_level",
        "sum_qty",
        "n",
    ).orderBy("grouping_level", "returnflag", "linestatus")


@query(
    "q_hh1_heavy_hitters",
    "SELECT user_id, count(*) AS n FROM events "
    "GROUP BY user_id HAVING count(*) >= 75 ORDER BY user_id",
    tags=("agg", "heavyhitters"),
)
def q_hh1(spark, sf_dir):
    # Misra-Gries candidates per partition (O(k) memory), broadcast
    # semi-join, exact count of candidates only — the full distinct-key
    # set never shuffles. Output is exact and partitioning-independent,
    # hence oracle-able against plain GROUP BY ... HAVING.
    from electrician_spark.operators import heavyhitters

    return heavyhitters.heavy_hitters(
        _t(spark, sf_dir, "events"), "user_id", threshold=75, k=64
    ).orderBy("user_id")


_PROFILE_COLS = ("o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus")


@query(
    "q_pr1_table_profile",
    " UNION ALL ".join(
        f'SELECT \'{c}\' AS "column", count(*) AS n_rows, '
        f"count(*) - count({c}) AS n_nulls, "
        f"count(DISTINCT {c}) AS n_distinct, CAST(min({c}) AS VARCHAR) AS min_value, "
        f"CAST(max({c}) AS VARCHAR) AS max_value FROM orders"
        for c in _PROFILE_COLS
    )
    + ' ORDER BY "column"',
    tags=("agg", "profile"),
)
def q_pr1(spark, sf_dir):
    # One wide aggregate (single scan) exploded to long format. Exact
    # distincts here for the oracle gate; approx=True (HLL++, no
    # distinct-value shuffle) is the 100 TB default. Columns are
    # int/varchar only — float min/max string-formatting is not
    # portable across engines.
    from electrician_spark.operators import profile

    return profile.profile_table(
        _t(spark, sf_dir, "orders"), list(_PROFILE_COLS), approx=False
    ).orderBy("column")


@query(
    "q_px1_image_pixel_stats",
    # Crafted solid-color images make every pixel statistic a pure
    # function of doc_id: even ids are solid-gray PNGs (1 channel,
    # value (id·37)%256), odd ids solid-RGB GIFs (3 channels, r/g/b
    # chosen so r+g+b ≡ 0 mod 3 — the mean divides exactly and no
    # float-formatting tie can split the engines).
    "WITH f AS (SELECT doc_id, doc_id % 2 = 0 AS is_png, "
    "CAST(4 + doc_id % 5 AS INTEGER) AS width, "
    "CAST(3 + doc_id % 4 AS INTEGER) AS height, "
    "(doc_id * 37) % 256 AS v, (doc_id * 11) % 256 AS r, (doc_id * 29) % 256 AS g, "
    "((doc_id * 17) % 80) * 3 + (3 - ((doc_id * 11) % 256 + (doc_id * 29) % 256) % 3) % 3 AS b "
    "FROM documents WHERE doc_id BETWEEN 1 AND 40) "
    "SELECT doc_id AS media_id, width, height, "
    "CAST(CASE WHEN is_png THEN 1 ELSE 3 END AS INTEGER) AS channels, "
    "printf('%.6f', CAST(CASE WHEN is_png THEN v ELSE (r + g + b) / 3 END AS DOUBLE)) "
    "AS mean_luma, "
    "CAST(CASE WHEN is_png THEN v ELSE least(r, g, b) END AS INTEGER) AS min_sample, "
    "CAST(CASE WHEN is_png THEN v ELSE greatest(r, g, b) END AS INTEGER) AS max_sample, "
    "'ok' AS ok FROM f ORDER BY media_id",
    tags=("multimodal",),
)
def q_px1(spark, sf_dir):
    # REAL pixel-decode attestation: deterministic payloads (solid-
    # gray PNG / solid-RGB GIF, multimodal.synth_*) are synthesized
    # EXECUTOR-side from doc_id arithmetic, then pushed through the
    # actual stdlib decoders via image_pixel_stats (mapInPandas,
    # Arrow-batched). Every sample value is closed-form in doc_id, so
    # the oracle recomputes width/height/channels/mean/min/max without
    # touching a codec — the decode path itself is what's attested,
    # not a stub. Scale posture: synthesis and decode are both
    # per-row map stages; no shuffle until the driver's own collect.
    from electrician_spark import multimodal as mm

    ids = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter((F.col("doc_id") >= 1) & (F.col("doc_id") <= 40))
    )

    def synth(batches):
        import pandas as pd

        from electrician_spark import multimodal as m

        for batch in batches:
            mids, payloads = [], []
            for did in batch["doc_id"]:
                did = int(did)
                w, h = 4 + did % 5, 3 + did % 4
                if did % 2 == 0:
                    payloads.append(m.synth_png_gray(w, h, (did * 37) % 256))
                else:
                    r, g = (did * 11) % 256, (did * 29) % 256
                    bl = ((did * 17) % 80) * 3 + (3 - (r + g) % 3) % 3
                    payloads.append(m.synth_gif_solid(w, h, (r, g, bl)))
                mids.append(did)
            yield pd.DataFrame({"media_id": mids, "payload": payloads})

    media = ids.mapInPandas(synth, "media_id long, payload binary")
    return mm.image_pixel_stats(media).orderBy("media_id")


@query(
    "q_ph1_image_phash",
    # Perceptual image hashing + banded hamming near-dup, fully
    # value-attested via closed-form DCT sign patterns: solid images
    # (any codec) hash to the DC-only pattern 1; clean half-plane
    # splits hash to the analytic half-step patterns — top-light
    # {bits 0,8,40}, left-light {0,1,5}, top-dark {0,24,56} (the 1-D
    # DCT of a half step has signs sin(uπ/2) at odd u; all other
    # coefficients are mathematically zero). Hamming distances follow:
    # solid↔split 2, split↔other-split 4 — so max_hamming=3 keeps
    # exactly same-pattern (0) and solid↔split (2) edges: every solid
    # neighbors all 35 others, every split neighbors the 9 solids +
    # its 8 same-pattern siblings = 17.
    "WITH f AS (SELECT doc_id, doc_id % 4 AS fam FROM documents "
    "WHERE doc_id BETWEEN 1 AND 36), "
    "h AS (SELECT doc_id, CASE fam WHEN 0 THEN 1 "
    "WHEN 1 THEN 1 + 256 + 1099511627776 "
    "WHEN 2 THEN 1 + 2 + 32 "
    "ELSE 1 + 16777216 + 72057594037927936 END AS phash FROM f), "
    "p AS (SELECT a.doc_id AS ida, count(*) AS n_near FROM h a JOIN h b "
    "ON a.doc_id <> b.doc_id AND bit_count(xor(a.phash, b.phash)) <= 3 "
    "GROUP BY a.doc_id) "
    "SELECT h.doc_id AS media_id, h.phash, "
    "CAST(coalesce(p.n_near, 0) AS BIGINT) AS n_near "
    "FROM h LEFT JOIN p ON p.ida = h.doc_id ORDER BY media_id",
    tags=("multimodal", "dedup"),
)
def q_ph1(spark, sf_dir):
    # REAL pipeline attestation: executor-side synthesized payloads
    # (solid PNG/GIF/JPEG rotating by id — all three decoders in one
    # row — and half-split PNGs at multiple-of-32 sizes so the box
    # resample stays exact) → multimodal.image_phash (real decode →
    # 32×32 box resample → orthonormal DCT-II → median-threshold
    # bits) → dedup.hamming_pairs (banded (pos, block) join, complete
    # by pigeonhole, never all-pairs) → per-image neighbor counts.
    # Scale posture: synthesis/decode/hash are per-row map stages; the
    # near-dup join is one linear shuffle on 16-bit signature blocks.
    from electrician_spark import multimodal as mm
    from electrician_spark.operators import dedup

    ids = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter((F.col("doc_id") >= 1) & (F.col("doc_id") <= 36))
    )

    def synth(batches):
        import pandas as pd

        from electrician_spark import multimodal as m

        for batch in batches:
            mids, payloads = [], []
            for did in batch["doc_id"]:
                did = int(did)
                fam = did % 4
                w, h = 32 * (1 + did % 3), 32 * (1 + did % 2)
                if fam == 0:
                    v = 30 + (did * 37) % 200
                    c = did % 3
                    if c == 0:
                        payloads.append(m.synth_png_gray(w, h, v))
                    elif c == 1:
                        payloads.append(m.synth_gif_solid(w, h, (v, v, v)))
                    else:
                        payloads.append(m.synth_jpeg_gray_solid(w, h, v))
                else:
                    a = 160 + (did * 7) % 64
                    b = a - 100
                    if fam == 1:
                        payloads.append(m.synth_png_gray_split(w, h, a, b, True))
                    elif fam == 2:
                        payloads.append(m.synth_png_gray_split(w, h, a, b, False))
                    else:
                        payloads.append(m.synth_png_gray_split(w, h, b, a, True))
                mids.append(did)
            yield pd.DataFrame({"media_id": mids, "payload": payloads})

    media = ids.mapInPandas(synth, "media_id long, payload binary")
    sig = mm.image_phash(media).select("media_id", "phash")
    # Materialize the 36-row signature table ONCE (lazy checkpoint):
    # it feeds five branches of the final plan (both sides of the
    # banded pair join, both arms of the neighbor union, and the final
    # left join), and each unmaterialized branch re-ran the synth +
    # decode + DCT MapInPandas chain — five decodes of the same rows
    # (guide §2.4; bounded by the doc_id slice, never corpus-sized).
    sig = sig.localCheckpoint(eager=False)
    pairs = dedup.hamming_pairs(sig, "media_id", "phash", max_hamming=3)
    near = (
        pairs.select(F.col("id_a").alias("media_id"))
        .unionByName(pairs.select(F.col("id_b").alias("media_id")))
        .groupBy("media_id")
        .agg(F.count("*").alias("n_near"))
    )
    return (
        sig.join(near, "media_id", "left")
        .select(
            "media_id",
            "phash",
            F.coalesce(F.col("n_near"), F.lit(0)).cast("long").alias("n_near"),
        )
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# §2.5 Joins
# ---------------------------------------------------------------------------


@query(
    "q_j1_broadcast_inner",
    "SELECT n_name, count(*) AS n_cust FROM customer "
    "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name",
    tags=("join",),
    bench=True,
)
def q_j1(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "inner")
        .groupBy("n_name")
        .agg(F.count("*").alias("n_cust"))
        .orderBy("n_name")
    )


@query(
    "q_j2_shipping_priority",
    "SELECT l_orderkey, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue, "
    "o_orderdate, o_orderpriority FROM customer "
    "JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey "
    "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-06-01' "
    "AND l_shipdate > TIMESTAMP '1998-06-01' "
    "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
    "ORDER BY revenue DESC, l_orderkey LIMIT 10",
    tags=("join",),
    bench=True,
)
def q_j2(spark, sf_dir):
    # TPC-H Q3 shape (SURVEY Q-J2) adapted to fixture columns/date range.
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < TS("1998-06-01"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > TS("1998-06-01"))
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey).join(
        li, li.l_orderkey == orders.o_orderkey
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        rel.round2(F.sum(rel.revenue_expr())).alias("revenue")
    )
    return rel.top_k(
        agg.select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority"),
        [F.col("revenue").desc(), F.col("l_orderkey")],
        10,
    )


@query(
    "q_j5_anti_join",
    "SELECT count(*) AS n FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)",
    tags=("join",),
)
def q_j5(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).agg(F.count("*").alias("n"))


@query(
    "q_o2_grouped_topk",
    "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM ("
    "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER "
    "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
    "FROM orders WHERE o_custkey <= 100) t WHERE rn <= 3 ORDER BY o_custkey, rn",
    tags=("order",),
    bench=True,
)
def q_o2(spark, sf_dir):
    df = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    top = rel.grouped_top_k(
        df, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey")], 3
    )
    return top.select("o_custkey", "o_orderkey", "o_totalprice", "rn").orderBy("o_custkey", "rn")


@query(
    "q_o3_priority_drain",
    "SELECT event_id, (event_id % 10) + CAST(floor((epoch_us(TIMESTAMP '2024-02-01 00:00:00') "
    "- epoch_us(ts)) / 60000000.0) AS BIGINT) AS eff_priority FROM events "
    "ORDER BY eff_priority DESC, event_id LIMIT 25",
    tags=("order", "events"),
)
def q_o3(spark, sf_dir):
    # Resister priority aging: base + minutes-in-queue (element.go:80-98).
    df = _t(spark, sf_dir, "events")
    eff = prio.effective_priority(
        F.col("event_id") % 10, F.col("ts"), TS("2024-02-01 00:00:00")
    ).alias("eff_priority")
    df = df.select("event_id", eff)
    return prio.drain(df, F.col("eff_priority"), 25, [F.col("event_id")])


# ---------------------------------------------------------------------------
# §2.7 Event-time windows (batch-equivalence mode over events)
# ---------------------------------------------------------------------------


@query(
    "q_w1_tumbling_hour",
    "SELECT date_trunc('hour', ts) AS window_start, count(*) AS n, "
    "round(sum(value), 2) AS sum_value FROM events GROUP BY 1 ORDER BY 1",
    tags=("window", "events"),
    bench=True,
)
def q_w1(spark, sf_dir):
    return win.tumbling(
        _t(spark, sf_dir, "events"),
        "ts",
        "1 hour",
        F.count("*").alias("n"),
        rel.round2(F.sum("value")).alias("sum_value"),
    ).orderBy("window_start")


@query(
    "q_w3_session_counts",
    # CAST: DuckDB sum(int) is HUGEINT (int128); Spark emits bigint and the
    # driver hash-compares dtypes, so pin the oracle to BIGINT explicitly.
    "SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions FROM ("
    "SELECT user_id, CASE WHEN prev_ts IS NULL OR "
    "epoch_us(ts) - epoch_us(prev_ts) >= 600000000 THEN 1 ELSE 0 END AS new_s FROM ("
    "SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts "
    "FROM events) a) b GROUP BY user_id ORDER BY user_id",
    tags=("window", "events"),
    bench=True,
)
def q_w3(spark, sf_dir):
    # Spark session_window merges events with gap < 10 min; the oracle is
    # the classic gaps-and-islands rewrite (new session when gap >= 10 min).
    return win.session_counts(_t(spark, sf_dir, "events"), "ts", "user_id", "10 minutes").orderBy(
        "user_id"
    )


# ---------------------------------------------------------------------------
# §2.8 Analytic window functions
# ---------------------------------------------------------------------------


@query(
    "q_wf1_rank",
    "SELECT o_custkey, o_orderkey, rank() OVER w AS rnk, dense_rank() OVER w AS drnk "
    "FROM orders WHERE o_custkey <= 100 "
    "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) "
    "ORDER BY o_custkey, rnk, o_orderkey",
    tags=("winfunc",),
)
def q_wf1(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= 100)
        .select(
            "o_custkey",
            "o_orderkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .orderBy("o_custkey", "rnk", "o_orderkey")
    )


@query(
    "q_wf2_lag_gap",
    "SELECT o_custkey, o_orderkey, CAST(date_diff('day', "
    "lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), "
    "o_orderdate) AS BIGINT) AS gap_days FROM orders WHERE o_custkey <= 50 "
    "ORDER BY o_custkey, o_orderdate, o_orderkey",
    tags=("winfunc",),
)
def q_wf2(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= 50)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
            .cast("long")
            .alias("gap_days"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
        .drop("o_orderdate")
    )


# ---------------------------------------------------------------------------
# §2.9 Set operations (fan-in C3 = UNION ALL)
# ---------------------------------------------------------------------------


@query(
    "q_u2_union_distinct",
    "SELECT count(*) AS n FROM (SELECT o_custkey AS k FROM orders "
    "UNION SELECT c_custkey AS k FROM customer) t",
    tags=("setop",),
)
def q_u2(spark, sf_dir):
    a = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    b = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return a.unionByName(b).distinct().agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# §2.10 Scalar functions (string / date / math / array / json)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Text analysis (LLM-pipeline extension; SURVEY §7.2.9)
# ---------------------------------------------------------------------------

# Shared oracle CTE: tokens + distinct 3-gram shingles per document —
# mirrors functions.text.tokens / shingles exactly.
_SQL_TOKENS = "string_split_regex(trim(text), '\\s+')"
_SQL_SHINGLES_CTE = (
    "t AS (SELECT doc_id, " + _SQL_TOKENS + " AS ws FROM documents), "
    "idx AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM t), "
    "sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM idx)"
)


_X7_STOPS = "'the','a','of','and','to','in','is','it'"

# Shared oracle CTEs for the NB-langid family (q_li1 + q_x9): the
# train->freeze replay (gram counts, top-300 cut, add-0.5 smoothing
# over the kept-gram event space, dyadic 2^-20 freeze with
# floor(x*2^20 + 0.5), doc-count priors) and the exact integer
# scoring of whatever `te(doc_id, s)` CTE the caller supplies.
_SQL_LI_TRAIN = (
    "tr AS (SELECT lang, lower(text) AS s FROM documents "
    "WHERE doc_id % 5 <> 0), "
    "g AS (SELECT lang, substr(s, i, 2) AS gram FROM "
    "(SELECT lang, s, unnest(range(1, length(s))) AS i FROM tr)), "
    "counts AS (SELECT gram, lang, count(*) AS c FROM g GROUP BY 1, 2), "
    "top AS (SELECT gram FROM (SELECT gram, sum(c) AS ct FROM counts "
    "GROUP BY 1 ORDER BY ct DESC, gram LIMIT 300)), "
    "kk AS (SELECT count(*) AS k FROM top), "
    "langs AS (SELECT lang, count(*) AS nd FROM tr GROUP BY 1), "
    "tot AS (SELECT sum(nd) AS t FROM langs), "
    "grid AS (SELECT t.gram, l.lang, coalesce(c.c, 0) AS c0 "
    "FROM top t CROSS JOIN (SELECT lang FROM langs) l "
    "LEFT JOIN counts c ON c.gram = t.gram AND c.lang = l.lang), "
    "nl AS (SELECT lang, sum(c0) AS n_l FROM grid GROUP BY 1), "
    "model AS (SELECT gram, grid.lang, "
    "CAST(floor(ln((c0 + 0.5) / (n_l + 0.5 * k)) * 1048576.0 + 0.5) AS BIGINT) "
    "AS lp FROM grid JOIN nl ON nl.lang = grid.lang CROSS JOIN kk), "
    "priors AS (SELECT lang, "
    "CAST(floor(ln(nd * 1.0 / t) * 1048576.0 + 0.5) AS BIGINT) AS pp "
    "FROM langs CROSS JOIN tot)"
)
_SQL_LI_SCORE = (
    "tg AS (SELECT doc_id, substr(s, i, 2) AS gram FROM "
    "(SELECT doc_id, s, unnest(range(1, length(s))) AS i FROM te)), "
    "hits AS (SELECT doc_id, lang, sum(lp) AS hs FROM tg "
    "JOIN model USING (gram) GROUP BY 1, 2), "
    "sc AS (SELECT d.doc_id, p.lang, p.pp + coalesce(h.hs, 0) AS score "
    "FROM te d CROSS JOIN priors p "
    "LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.lang = p.lang), "
    "rk AS (SELECT doc_id, lang, score, row_number() OVER "
    "(PARTITION BY doc_id ORDER BY score DESC, lang) AS rn, "
    "lead(score) OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS s2 "
    "FROM sc)"
)


@query(
    "q_li1_langid_model",
    # MODEL-BASED language ID (operators/langid.py — the trained tier
    # above q_x3's heuristic): multinomial Naive Bayes over char
    # bigrams, trained LIVE on the labeled split (doc_id % 5 <> 0),
    # frozen to a dyadic 2^-20 integer weight table (the q_ug1
    # quantization recipe: floor(ln(p)*2^20 + 0.5) — identical
    # floor+0.5 semantics in both engines), round-tripped through the
    # JSON artifact, then scored on the DISJOINT test split. Scores
    # are EXACT integer sums (units of 2^-20), so argmax, margin, and
    # every score value replay bit-for-bit — the oracle re-runs the
    # ENTIRE train->freeze->score pipeline in SQL: gram counts,
    # top-300 vocabulary cut (count desc, gram asc), add-0.5
    # smoothing over the kept-gram event space, doc-count priors,
    # per-(doc, lang) scoring with OOV-gram skip, and the
    # (score desc, lang asc) argmax with runner-up margin.
    "WITH " + _SQL_LI_TRAIN + ", "
    "te AS (SELECT doc_id, lower(text) AS s FROM documents WHERE doc_id % 5 = 0), "
    + _SQL_LI_SCORE + " "
    "SELECT doc_id, lang AS lang_pred, CAST(score AS BIGINT) AS score_u20, "
    "CAST(score - s2 AS BIGINT) AS margin_u20 FROM rk WHERE rn = 1 "
    "ORDER BY doc_id",
    tags=("text", "classifier"),
)
def q_li1(spark, sf_dir):
    # operators/langid.train_langid -> save/load JSON artifact ->
    # langid_scores: distributed count aggregation, bounded model
    # collect (<= 300 x n_langs rows by construction), broadcast-join
    # scoring with one partial-aggregated shuffle and a bounded
    # (n_langs rows/doc) argmax window.
    from electrician_spark.operators import langid

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    trained = langid.train_langid(train, n=2, alpha=0.5, max_grams=300)
    model = _round_trip(  # score from the ARTIFACT
        lambda p: langid.save_langid(trained, p), langid.load_langid, "model.json"
    )
    return _li1_score(spark, sf_dir, model)


def _li1_score(spark, sf_dir, model):
    """q_li1's disjoint-split scoring given an already-trained langid
    model — shared by the live-training correctness row and the
    frozen-artifact bench variant (identical plan from the model
    down; the training parameters and split match q_x9's, so both
    rows share one committed artifact per SF)."""
    from electrician_spark.operators import langid

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    test = docs.filter(F.col("doc_id") % 5 == 0)
    return (
        langid.langid_scores(test, model)
        .select(
            "doc_id",
            "lang_pred",
            F.col("score_u").cast("long").alias("score_u20"),
            F.col("margin_u").cast("long").alias("margin_u20"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_x9_trained_gate_pipeline",
    # The CURATION CHAIN with the TRAINED language gate (q_x7's
    # heuristic-gated pipeline upgraded to the q_li1 model tier —
    # SURVEY's curation composition with operators/langid.langid_gate
    # swapped in): train NB-langid live on the labeled split, freeze
    # to the dyadic artifact, score EVERY document, and keep only
    # docs passing BOTH the trained-confidence gate (top-vs-runner-up
    # margin >= 500000 u20 ≈ 0.48 nats — exact integers, so the gate
    # is bit-identical cross-engine) and q_x7's quality gates
    # (n_tokens >= 10, avg token length in [2, 15]); then the
    # per-language corpus census. The oracle replays train, freeze,
    # score, BOTH gates, and the census. Quality signals ride the one
    # scoring shuffle via langid_scores(carry=...) — the composed
    # pipeline costs ONE broadcast model join + ONE map-side-combined
    # shuffle + the census, with no corpus-to-scores re-join
    # (plan-pinned in test_langid).
    "WITH " + _SQL_LI_TRAIN + ", "
    "te AS (SELECT doc_id, lower(text) AS s FROM documents), "
    + _SQL_LI_SCORE + ", "
    f"qual AS (SELECT doc_id, len(toks) AS n_tokens, "
    f"len(list_filter(toks, x -> x IN ({_X7_STOPS}))) AS n_stop, "
    "list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks) "
    "AS avg_len FROM (SELECT doc_id, " + _SQL_TOKENS + " AS toks "
    "FROM documents) tq), "
    "gated AS (SELECT r.doc_id, r.lang, CAST(r.score - r.s2 AS BIGINT) AS margin, "
    "q.n_tokens, q.n_stop FROM rk r JOIN qual q USING (doc_id) "
    "WHERE r.rn = 1 AND r.score - r.s2 >= 500000 AND q.n_tokens >= 10 "
    "AND q.avg_len >= 2.0 AND q.avg_len <= 15.0) "
    "SELECT lang AS lang_pred, count(*) AS n_docs, "
    "CAST(sum(n_tokens) AS BIGINT) AS total_tokens, "
    "CAST(sum(n_stop) AS BIGINT) AS total_stop, "
    "CAST(sum(margin) AS BIGINT) AS sum_margin_u20 "
    "FROM gated GROUP BY 1 ORDER BY 1",
    tags=("text", "classifier"),
)
def q_x9(spark, sf_dir):
    # train_langid -> JSON artifact round trip -> langid_gate with the
    # quality signals carried through the scoring shuffle. The
    # heuristic tier (functions/text.language_id) remains the
    # zero-dependency default gate; this row attests the trained
    # swap-in end-to-end. (The bench series runs the production
    # posture instead — the SAME gate chain from a committed frozen
    # artifact, benchvariants.py — because train-once/reuse is the
    # documented contract; the correctness row keeps training live.)
    from electrician_spark.operators import langid

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    trained = langid.train_langid(
        docs.filter(F.col("doc_id") % 5 != 0), n=2, alpha=0.5, max_grams=300
    )
    model = _round_trip(  # gate from the ARTIFACT
        lambda p: langid.save_langid(trained, p), langid.load_langid, "model.json"
    )
    return _x9_gate(spark, sf_dir, model)


def _x9_gate(spark, sf_dir, model):
    """q_x9's scoring/gating chain given an already-trained langid
    model — shared by the live-training correctness row and the
    frozen-artifact bench variant (identical plan from here down)."""
    from electrician_spark.functions import text as tx
    from electrician_spark.operators import langid

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = tx.tokens(F.col("text"))
    enriched = docs.select(
        "doc_id",
        "text",
        tx.token_count(F.col("text")).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: t.isin(*tx.DEFAULT_STOPWORDS))).alias(
            "n_stop"
        ),
        tx.avg_token_len(F.col("text")).alias("avg_len"),
    )
    gated = langid.langid_gate(
        enriched,
        model,
        min_margin_u=500_000,
        carry=["n_tokens", "n_stop", "avg_len"],
    ).filter(
        (F.col("n_tokens") >= 10)
        & (F.col("avg_len") >= 2.0)
        & (F.col("avg_len") <= 15.0)
    )
    return (
        gated.groupBy("lang_pred")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_stop").cast("long").alias("total_stop"),
            F.sum("margin_u").cast("long").alias("sum_margin_u20"),
        )
        .orderBy("lang_pred")
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_NUM = r"[0-9]{9,}"


@query(
    "q_x6_pii_redaction",
    # Plant a synthetic email + long number on every 7th doc, scrub,
    # prove nothing email-shaped survives. Patterns stay in the
    # Java-regex ∩ RE2 dialect so both engines run the same scrub.
    "WITH t AS (SELECT doc_id, text || CASE WHEN doc_id % 7 = 0 THEN "
    "' contact: user' || doc_id || '@example.com ref 1234567890' ELSE '' END "
    "AS text FROM documents), "
    "r AS (SELECT doc_id, text, regexp_replace(regexp_replace(text, "
    f"'{_PII_EMAIL}', '<EMAIL>', 'g'), '{_PII_NUM}', '<NUM>', 'g') AS clean FROM t) "
    "SELECT count(*) AS n_docs, "
    "CAST(sum(CASE WHEN contains(text, '@') THEN 1 ELSE 0 END) AS BIGINT) "
    "AS docs_with_email, "
    "CAST(sum(CASE WHEN text <> clean THEN 1 ELSE 0 END) AS BIGINT) AS docs_redacted, "
    "CAST(sum(len(clean) - len(replace(clean, '<EMAIL>', ''))) / 7 AS BIGINT) "
    "AS email_tokens, "
    "CAST(sum(CASE WHEN regexp_matches(clean, '[0-9]{9,}') THEN 1 ELSE 0 END) "
    "AS BIGINT) AS long_numbers_left FROM r",
    tags=("text",),
)
def q_x6(spark, sf_dir):
    from electrician_spark.functions import text as tx

    planted = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact: user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com ref 1234567890"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    scrubbed = planted.withColumn("clean", tx.redact_pii(F.col("text")))
    return scrubbed.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("text").contains("@"), 1).otherwise(0))
        .cast("long")
        .alias("docs_with_email"),
        F.sum(F.when(F.col("text") != F.col("clean"), 1).otherwise(0))
        .cast("long")
        .alias("docs_redacted"),
        (
            F.sum(
                F.length("clean") - F.length(F.regexp_replace("clean", "<EMAIL>", ""))
            )
            / 7
        )
        .cast("long")
        .alias("email_tokens"),
        F.sum(F.when(F.col("clean").rlike(_PII_NUM), 1).otherwise(0))
        .cast("long")
        .alias("long_numbers_left"),
    )


@query(
    "q_x7_quality_filter_pipeline",
    f"WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks, "
    "string_split_regex(trim(lower(text)), '\\s+') AS ltoks FROM documents), "
    "m AS (SELECT doc_id, len(toks) AS n_tokens, "
    f"len(list_filter(toks, x -> x IN ({_X7_STOPS}))) AS n_stop, "
    "list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks) AS avg_len, "
    "len(list_filter(ltoks, x -> x IN ('der','die','und','das','ist'))) AS s_de, "
    "len(list_filter(ltoks, x -> x IN ('the','and','of','to','is'))) AS s_en, "
    "len(list_filter(ltoks, x -> x IN ('el','la','de','que','y'))) AS s_es, "
    "len(list_filter(ltoks, x -> x IN ('le','la','et','les','des'))) AS s_fr, "
    "len(list_filter(ltoks, x -> x IN ('的','是','了','在','我'))) AS s_zh FROM t), "
    "p AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS g FROM m), "
    "langed AS (SELECT doc_id, n_tokens, n_stop, avg_len, "
    "CASE WHEN g = 0 THEN 'en' WHEN s_de = g THEN 'de' WHEN s_en = g THEN 'en' "
    "WHEN s_es = g THEN 'es' WHEN s_fr = g THEN 'fr' ELSE 'zh' END AS lang_pred FROM p), "
    "kept AS (SELECT * FROM langed WHERE n_tokens >= 10 "
    "AND avg_len >= 2.0 AND avg_len <= 15.0) "
    "SELECT lang_pred, count(*) AS n_docs, "
    "CAST(sum(n_tokens) AS BIGINT) AS total_tokens, "
    "round(sum(n_stop) * 1.0 / sum(n_tokens), 6) AS corpus_stop_ratio "
    "FROM kept GROUP BY lang_pred ORDER BY lang_pred",
    tags=("text",),
)
def q_x7(spark, sf_dir):
    # The composed training-data filter chain a corpus build runs
    # before tokenization: language-ID + token/length gates, then
    # per-language corpus stats. One scan, one shuffle (the groupBy on
    # ≤5 language keys, map-side combined); every heuristic stays a
    # codegen'd JVM expression — no Python in the hot path. The stop
    # ratio aggregates exact integer sums (not per-doc doubles), so the
    # single final division is cross-engine deterministic.
    from electrician_spark.functions import text as tx

    toks = tx.tokens(F.col("text"))
    enriched = _t(spark, sf_dir, "documents").select(
        "doc_id",
        tx.language_id(F.col("text")).alias("lang_pred"),
        tx.token_count(F.col("text")).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: t.isin(*tx.DEFAULT_STOPWORDS))).alias("n_stop"),
        tx.avg_token_len(F.col("text")).alias("avg_len"),
    )
    kept = enriched.filter(
        (F.col("n_tokens") >= 10) & (F.col("avg_len") >= 2.0) & (F.col("avg_len") <= 15.0)
    )
    return (
        kept.groupBy("lang_pred")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.sum("n_stop") * 1.0 / F.sum("n_tokens"), 6).alias("corpus_stop_ratio"),
        )
        .orderBy("lang_pred")
    )


def _x8_oracle(k1: float = 1.2, b: float = 0.75) -> str:
    # Replays the full curation pipeline: cross-doc segment dedup
    # (first-occurrence-wins on the md5(trim(line)) key — exactly
    # operators/dedup.line_dedup), closed-form BM25 over the deduped
    # text (same Lucene-style idf and literal constants, rendered via
    # repr so both engines parse identical doubles), top-10-per-lang
    # capping (row_number over the total (bm25 desc, doc_id) order —
    # what cap_per_group's exact two-phase evaluation must equal), and
    # BPE pre-token counts (the shared Java-regex/RE2 pattern).
    from electrician_spark.functions.text import BPE_PRETOKEN_PATTERN

    bpe = BPE_PRETOKEN_PATTERN.replace("'", "''")
    return (
        "WITH parts AS (SELECT doc_id, string_split(text, 'value') AS p FROM documents), "
        "lines AS (SELECT doc_id, unnest(p) AS line, unnest(range(len(p))) AS pos FROM parts), "
        "nz AS (SELECT doc_id, pos, line FROM lines WHERE trim(line) <> ''), "
        "rk AS (SELECT doc_id, pos, line, row_number() OVER "
        "(PARTITION BY md5(trim(line)) ORDER BY doc_id, pos) AS rn FROM nz), "
        "kept AS (SELECT doc_id, pos, line FROM rk WHERE rn = 1), "
        "rebuilt AS (SELECT doc_id, string_agg(line, 'value' ORDER BY pos) AS text "
        "FROM kept GROUP BY doc_id), "
        "dd AS (SELECT d.doc_id, d.lang, coalesce(r.text, '') AS text "
        "FROM documents d LEFT JOIN rebuilt r ON r.doc_id = d.doc_id), "
        "toks AS (SELECT doc_id, lang, text, "
        "string_split_regex(trim(lower(text)), '\\s+') AS tk FROM dd), "
        "stats AS (SELECT count(*) AS n, avg(len(tk)) AS avgdl FROM toks), "
        "tm AS (SELECT doc_id, len(tk) AS dl, t.term, "
        "len(list_filter(tk, x -> x = t.term)) AS tf "
        "FROM toks, (SELECT unnest(['join','hash','scan']) AS term) t "
        "WHERE list_contains(tk, t.term)), "
        "dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tm GROUP BY term), "
        "w AS (SELECT doc_id, ln((n - df + 0.5) / (df + 0.5) + 1.0) * "
        f"(tf * {k1 + 1!r}) / (tf + {k1!r} * ({1 - b!r} + {b!r} * dl / avgdl)) AS wt "
        "FROM tm JOIN dfreq USING (term) CROSS JOIN stats), "
        "scored AS (SELECT doc_id, round(sum(wt), 6) AS bm25 FROM w GROUP BY doc_id), "
        "ranked AS (SELECT s.doc_id, d.lang, s.bm25, row_number() OVER "
        "(PARTITION BY d.lang ORDER BY s.bm25 DESC, s.doc_id) AS rn "
        "FROM scored s JOIN documents d ON d.doc_id = s.doc_id), "
        "capped AS (SELECT doc_id, lang, bm25 FROM ranked WHERE rn <= 10), "
        f"bpe AS (SELECT doc_id, len(list_filter(regexp_extract_all(text, '({bpe})', 1), "
        "t -> NOT regexp_matches(t, '^\\s+$'))) AS n_bpe FROM dd) "
        "SELECT c.lang, c.doc_id, c.bm25, b.n_bpe FROM capped c JOIN bpe b USING (doc_id) "
        "ORDER BY c.lang, c.doc_id"
    )


@query("q_x8_curation_pipeline", _x8_oracle(), tags=("text", "dedup", "retrieval", "sampling"))
def q_x8(spark, sf_dir):
    # The composed corpus-curation chain a retrieval-directed data
    # build runs: cross-document segment dedup (line_dedup keyed on
    # 'value'-delimited fragments — first occurrence wins corpus-wide),
    # BM25 scoring of the deduped text against a topic term set,
    # exact top-10-per-language capping (skew-proof salted two-phase),
    # and BPE pre-token counts for the survivors' length budget. Four
    # operators, one attested result. Every stage is a linear
    # shuffle/broadcast plan: dedup = two map-side-combinable groupBys,
    # BM25 = term-filtered explode + two scalar broadcasts, cap = two
    # bounded windows, BPE = a codegen'd regexp — no Python anywhere.
    from electrician_spark.functions import text as tx
    from electrician_spark.operators import dedup, sampling
    from electrician_spark.operators.retrieval import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    deduped = dedup.line_dedup(docs, sep="value")
    # consumed by bm25's stats + scoring branches AND the final text
    # join — materialize the dedup result once (lazy)
    deduped = deduped.localCheckpoint(eager=False)
    scored = bm25_scores(deduped, ["join", "hash", "scan"])
    joined = scored.join(docs.select("doc_id", "lang"), "doc_id")
    capped = sampling.cap_per_group(
        joined, ["lang"], 10, [F.col("bm25").desc(), F.col("doc_id")]
    )
    out = capped.join(deduped, "doc_id").select(
        "lang", "doc_id", "bm25", tx.bpe_token_count(F.col("text")).alias("n_bpe")
    )
    return out.orderBy("lang", "doc_id")


# ---------------------------------------------------------------------------
# Deduplication (LLM-pipeline extension)
# ---------------------------------------------------------------------------


_SQL_JACCARD_CTES = (
    _SQL_SHINGLES_CTE + ", "
    "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), "
    "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i "
    "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), "
    "jac AS (SELECT id_a, id_b, round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard "
    "FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b)"
)


@query(
    "q_d2_ngram_jaccard",
    f"WITH {_SQL_JACCARD_CTES} "
    "SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.8 ORDER BY id_a, id_b",
    tags=("dedup",),
    bench=True,
)
def q_d2(spark, sf_dir):
    from electrician_spark.operators import dedup

    pairs = dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.8)
    return pairs.orderBy("id_a", "id_b")


def _minhash_oracle(num_hashes: int = 16, bands: int = 4, threshold: float = 0.8) -> str:
    rows = num_hashes // bands
    sig_cols = ", ".join(
        f"min(md5('{i}:' || s)) AS h{i}" for i in range(num_hashes)
    )
    band_selects = []
    for b in range(bands):
        parts = " || '|' || ".join(f"h{b * rows + r}" for r in range(rows))
        band_selects.append(f"SELECT doc_id, {b} AS band, md5({parts}) AS bh FROM sig")
    bands_sql = " UNION ALL ".join(band_selects)
    return (
        f"WITH {_SQL_JACCARD_CTES}, "
        f"sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id), "
        f"bands AS ({bands_sql}), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a "
        "JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id) "
        "SELECT c.id_a, c.id_b, j.jaccard FROM cand c JOIN jac j ON j.id_a = c.id_a "
        f"AND j.id_b = c.id_b WHERE j.jaccard >= {threshold} ORDER BY c.id_a, c.id_b"
    )


@query("q_d3_minhash_lsh", _minhash_oracle(), tags=("dedup",), bench=True)
def q_d3(spark, sf_dir):
    from electrician_spark.operators import dedup

    pairs = dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), num_hashes=16, bands=4, threshold=0.8
    )
    return pairs.orderBy("id_a", "id_b")


@query(
    "q_d6_dup_clusters",
    # Oracle = two rounds of min-label propagation in SQL. The engine
    # iterates to a true fixpoint; two rounds are exact whenever every
    # component has diameter ≤ 2, which holds for the fixture pair graph
    # (near-duplicate clusters are cliques — verified max diameter 1 at
    # sf0.01 and sf0.1).
    f"WITH {_SQL_JACCARD_CTES}, "
    "p AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.8), "
    "sym AS (SELECT id_a AS src, id_b AS dst FROM p "
    "UNION ALL SELECT id_b, id_a FROM p), "
    "l0 AS (SELECT src AS node, least(src, min(dst)) AS rep FROM sym GROUP BY src), "
    "l1 AS (SELECT l0.node, least(l0.rep, min(ln.rep)) AS rep "
    "FROM l0 JOIN sym ON sym.src = l0.node JOIN l0 ln ON ln.node = sym.dst "
    "GROUP BY l0.node, l0.rep) "
    "SELECT node, rep FROM l1 ORDER BY node",
    tags=("dedup",),
)
def q_d6(spark, sf_dir):
    # The fixture pair graph is small, so connected_components solves it
    # on the driver; test_dedup pins that solve equal to the distributed
    # large-star/small-star rounds that larger graphs take.
    from electrician_spark.operators import dedup

    pairs = dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.8)
    return dedup.connected_components(pairs).orderBy("node")


# Deterministic md5-derived sample key, identical in Spark
# (conv(substring(md5, 1, 8), 16, 10)) and DuckDB:
_SQL_SAMPLE_KEY = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"


@query(
    "q_rz1_resize_media",
    # Solid-gray PNGs sized ABOVE max_side force a real area-average
    # resample; constants resample to themselves exactly, so target
    # dims, byte counts, and per-byte uniformity are closed-form in
    # doc_id. Dim choices avoid every round-half tie (Python banker's
    # rounding vs SQL half-away would split engines at .5).
    "WITH f AS (SELECT doc_id, "
    "CAST(8 + 2 * (doc_id % 4) AS INTEGER) AS w0, "
    "CAST(4 + doc_id % 3 AS INTEGER) AS h0, "
    "(doc_id * 37) % 256 AS v FROM documents WHERE doc_id BETWEEN 1 AND 30), "
    "t AS (SELECT doc_id, v, "
    "CAST(round(w0 * least(8.0 / w0, 1.0)) AS INTEGER) AS target_w, "
    "CAST(round(h0 * least(8.0 / w0, 1.0)) AS INTEGER) AS target_h FROM f) "
    "SELECT doc_id AS media_id, target_w, target_h, "
    "CAST(1 AS INTEGER) AS channels, "
    "CAST(target_w * target_h AS BIGINT) AS n_bytes, "
    "TRUE AS uniform, 'ok' AS ok FROM t ORDER BY media_id",
    tags=("multimodal",),
)
def q_rz1(spark, sf_dir):
    # REAL resize attestation: executor-synthesized solid-gray PNGs
    # (w0 in 8..14 > max_side=8) run the full decode → aspect-
    # preserving target → exact area-average resample path
    # (multimodal.resize_plan). `uniform` proves the RESAMPLED pixel
    # payload byte-for-byte (hex(resized) vs the repeated hex of the
    # planted gray value) — a wrong kernel, not just wrong dims,
    # flips it false. All per-row map stages; no shuffle.
    from electrician_spark import multimodal as mm

    ids = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter((F.col("doc_id") >= 1) & (F.col("doc_id") <= 30))
    )

    def synth(batches):
        import pandas as pd

        from electrician_spark import multimodal as m

        for batch in batches:
            mids, payloads = [], []
            for did in batch["doc_id"]:
                did = int(did)
                payloads.append(
                    m.synth_png_gray(
                        8 + 2 * (did % 4), 4 + did % 3, (did * 37) % 256
                    )
                )
                mids.append(did)
            yield pd.DataFrame({"media_id": mids, "payload": payloads})

    media = ids.mapInPandas(synth, "media_id long, payload binary")
    rz = mm.resize_plan(media, max_side=8)
    return rz.select(
        "media_id",
        "target_w",
        "target_h",
        "channels",
        F.octet_length("resized").cast("long").alias("n_bytes"),
        (
            F.hex(F.col("resized"))
            == F.expr(
                "repeat(lpad(hex((media_id * 37) % 256), 2, '0'), "
                "target_w * target_h)"
            )
        ).alias("uniform"),
        "ok",
    ).orderBy("media_id")


@query(
    "q_sp1_sequence_packing",
    # Concat-and-chunk packing into 2048-token sequences over 8
    # md5-derived shards; integer window cumsum, exact in both engines.
    "WITH sharded AS (SELECT doc_id, n_chars, "
    f"{_SQL_SAMPLE_KEY} % 8 AS shard FROM documents), "
    "c AS (SELECT doc_id, n_chars, shard, "
    "CAST(sum(n_chars) OVER (PARTITION BY shard ORDER BY doc_id "
    "ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_chars AS start_offset FROM sharded) "
    "SELECT doc_id, shard, start_offset, "
    "CAST(floor(start_offset / 2048.0) AS BIGINT) AS pack_id, "
    "CAST(floor((start_offset + n_chars - 1) / 2048.0) AS BIGINT) "
    "- CAST(floor(start_offset / 2048.0) AS BIGINT) + 1 AS n_splits "
    "FROM c",
    tags=("packing",),
)
def q_sp1(spark, sf_dir):
    # Sequence packing for training: documents laid end-to-end per
    # shard, cut every 2048 tokens (n_chars stands in for the token
    # count; any tokenizer output column plugs in unchanged).
    from electrician_spark.operators import packing

    docs = _t(spark, sf_dir, "documents")
    return packing.pack_sequences(docs, "n_chars", budget=2048, n_shards=8).select(
        "doc_id", "shard", "start_offset", "pack_id", "n_splits"
    )


def _kmv_oracle(k: int = 16) -> str:
    # Register i = min over rows of the seed-prefixed md5 key — the
    # exact expression operators/sketch.py builds, replayed in SQL.
    regs = ", ".join(
        "min(CAST('0x' || substr(md5('" + str(i) + ":' || CAST(o_custkey AS VARCHAR)), "
        f"1, 8) AS BIGINT)) AS h{i}"
        for i in range(k)
    )
    # Left-associative sum chain — same IEEE evaluation order as the
    # Spark expression, so the double estimate is bit-identical.
    total = " + ".join(f"(h{i} + 1) / 4294967296.0" for i in range(k))
    return (
        f"WITH s AS (SELECT o_orderpriority AS grp, {regs} FROM orders GROUP BY 1) "
        f"SELECT grp, round({float(k)} / ({total}) - 1.0, 6) AS distinct_est "
        "FROM s ORDER BY grp"
    )


@query(
    "q_ds1_distinct_sketch",
    _kmv_oracle(),
    tags=("sketch",),
)
def q_ds1(spark, sf_dir):
    # KMV-family distinct-count sketch: k MIN registers, full map-side
    # combine, shuffle carries 8·k bytes per group instead of every
    # distinct value — the scale path next to q_a4's exact
    # count(DISTINCT). Estimate is md5-keyed and expression-ordered, so
    # DuckDB replays it bit-identically.
    from electrician_spark.operators import sketch

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"), "o_custkey"
    )
    return sketch.sketch_distinct(orders, "o_custkey", k=16, group_cols=["grp"]).orderBy(
        "grp"
    )


def _simhash_oracle(bits: int = 64, max_hamming: int = 3, block_bits: int = 16) -> str:
    # Mirrors operators/dedup.simhash: two 32-bit md5 halves (no u64
    # composition — it would overflow signed BIGINT), bit 63 assembled as
    # the two's-complement -2^63 term, blocks = masked arithmetic shifts.
    lo = "CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)"
    hi = "CAST('0x' || substr(md5(s), 9, 8) AS BIGINT)"
    bit_sums = ", ".join(
        f"sum(CASE WHEN ({lo if b < 32 else hi} >> {b if b < 32 else b - 32}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    sig_expr = " + ".join(
        f"CASE WHEN b{b} >= 0 THEN CAST({-(2**63) if b == 63 else 2**b} AS BIGINT) ELSE 0 END"
        for b in range(bits)
    )
    n_blocks = bits // block_bits
    mask = (1 << block_bits) - 1
    chunk_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS pos, (simhash >> {i * block_bits}) & {mask} AS chunk FROM sig"
        for i in range(n_blocks)
    )
    return (
        f"WITH {_SQL_SHINGLES_CTE}, "
        f"votes AS (SELECT doc_id, {bit_sums} FROM sh GROUP BY doc_id), "
        f"sig AS (SELECT doc_id, {sig_expr} AS simhash FROM votes), "
        f"chunks AS ({chunk_selects}), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, "
        "a.simhash AS sig_a, b.simhash AS sig_b FROM chunks a JOIN chunks b "
        "ON a.pos = b.pos AND a.chunk = b.chunk AND a.doc_id < b.doc_id) "
        "SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming "
        f"FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming} ORDER BY id_a, id_b"
    )


@query("q_d4_simhash", _simhash_oracle(), tags=("dedup",), bench=True)
def q_d4(spark, sf_dir):
    from electrician_spark.operators import dedup

    pairs = dedup.simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)
    return pairs.orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Embedding similarity (LLM-pipeline extension)
# ---------------------------------------------------------------------------

_SQL_DOT = (
    "list_sum(list_transform(range(64), i -> "
    "CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)))"
)
_SQL_NORM_CTE = (
    "norms AS (SELECT vec_id, embedding, "
    "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
    "AS nrm FROM embeddings)"
)


@query(
    "q_d5_embedding_near_dup",
    f"WITH {_SQL_NORM_CTE}, "
    "pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    f"round({_SQL_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm), 4) AS cos "
    "FROM norms a JOIN norms b ON a.vec_id < b.vec_id) "
    "SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.4 ORDER BY id_a, id_b",
    tags=("similarity",),
    bench=True,
)
def q_d5(spark, sf_dir):
    from electrician_spark.operators import similarity as sim

    # blocks=4 → 10 block-pair tasks: at this corpus size (2k vectors)
    # fewer, larger numpy matmuls beat 36 small ones, and only 10 Python
    # workers ever spawn (cold-start dominates the small-N regime).
    return sim.cosine_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, blocks=4
    ).orderBy("id_a", "id_b")


def _lsh_near_dup_oracle(n_planes: int = 3, n_tables: int = 8, threshold: float = 0.4) -> str:
    # Replays lsh_cosine_pairs exactly: per-table sign-LSH buckets from
    # md5-derived literal hyperplane weights (left-assoc term chains —
    # bit-identical IEEE summation in both engines), candidates = pairs
    # sharing a bucket in ANY table, scored with the true cosine. The
    # engine's bucket-local GEMM computes identical doubles, so the
    # approximate (LSH-filtered) result hash-matches exactly.
    from electrician_spark.operators.similarity import hyperplane_bucket_sql

    bcols = ", ".join(
        f"({hyperplane_bucket_sql('embedding', list(range(t * n_planes, (t + 1) * n_planes)), 64, 'duckdb')}) AS b{t}"
        for t in range(n_tables)
    )
    orcond = " OR ".join(f"a.b{t} = b.b{t}" for t in range(n_tables))
    return (
        f"WITH {_SQL_NORM_CTE}, "
        f"bk AS (SELECT vec_id, embedding, nrm, {bcols} FROM norms), "
        "pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        f"round({_SQL_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm), 4) AS cos "
        f"FROM bk a JOIN bk b ON a.vec_id < b.vec_id AND ({orcond})) "
        f"SELECT id_a, id_b, cos FROM pairs WHERE cos >= {threshold} ORDER BY id_a, id_b"
    )


@query("q_d9_lsh_near_dup", _lsh_near_dup_oracle(), tags=("similarity",))
def q_d9(spark, sf_dir):
    # The scale path for embedding near-dup: q_d5's exact blocked GEMM
    # is O(N²·d) flops no matter how it is blocked; here candidates come
    # from 8 sign-LSH tables (3 md5-derived hyperplanes each) and the
    # GEMM runs bucket-locally, so total work is linear in N at fixed
    # bucket load. One-sided error (subset of exact with identical
    # cosines; measured recall ≥0.93 at sf0.01) — the trade the
    # reference's bounded-work-per-element posture makes (wire.go:79-94).
    from electrician_spark.operators import similarity as sim

    # blocks=1: fixture buckets hold ≤~250 vectors, far under the 4096
    # rows_per_block memory budget — skip the auto-size count job.
    # n_planes=3 pinned explicitly: the oracle SQL replays exactly 3
    # hyperplanes per table (production callers leave n_planes=None and
    # get the corpus-sized k the scale contract needs).
    return sim.lsh_cosine_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, n_planes=3, blocks=1
    ).orderBy("id_a", "id_b")


@query(
    "q_n1_ann_bruteforce",
    f"WITH {_SQL_NORM_CTE}, "
    "q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn FROM norms WHERE vec_id < 10), "
    "scored AS (SELECT query_id, c.vec_id AS neighbor_id, "
    f"round({_SQL_DOT.format(a='qv', b='c.embedding')} / (qn * c.nrm), 4) AS cos "
    "FROM q JOIN norms c ON c.vec_id != query_id), "
    "ranked AS (SELECT query_id, neighbor_id, cos, row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored) "
    "SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 5 "
    "ORDER BY query_id, rank",
    tags=("similarity",),
    bench=True,
)
def q_n1(spark, sf_dir):
    from electrician_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    out = sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy("query_id", "rank")


@query(
    "q_n4_ann_ivf_probes",
    "WITH ex AS (SELECT label AS cl, d.dim AS dim, CAST(embedding[d.dim + 1] AS DOUBLE) AS v "
    "FROM embeddings, (SELECT unnest(range(64)) AS dim) d), "
    "means AS (SELECT cl, dim, avg(v) AS m FROM ex GROUP BY cl, dim), "
    "cents AS (SELECT cl, list(m ORDER BY dim) AS centroid FROM means GROUP BY cl), "
    f"{_SQL_NORM_CTE}, "
    "q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn FROM norms WHERE vec_id < 10), "
    "routed AS (SELECT query_id, qv, qn, cl, "
    + _SQL_DOT.format(a="qv", b="centroid")
    + " / (qn * sqrt(list_sum(list_transform(centroid, x -> x * x)))) AS ccos FROM q, cents), "
    "probe AS (SELECT query_id, qv, qn, cl FROM (SELECT *, row_number() OVER "
    "(PARTITION BY query_id ORDER BY ccos DESC, cl) AS rn FROM routed) r WHERE rn <= 2), "
    "scored AS (SELECT query_id, e.vec_id AS neighbor_id, "
    f"round({_SQL_DOT.format(a='qv', b='e.embedding')} / (qn * n2.nrm), 4) AS cos "
    "FROM probe p JOIN embeddings e ON e.label = p.cl AND e.vec_id != p.query_id "
    "JOIN norms n2 ON n2.vec_id = e.vec_id), "
    "ranked AS (SELECT query_id, neighbor_id, cos, row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored) "
    "SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 5 "
    "ORDER BY query_id, rank",
    tags=("similarity",),
)
def q_n4(spark, sf_dir):
    # Multi-probe IVF (nprobe=2): the recall knob on q_n2's routed
    # scan — probe the two nearest centroids, brute-force only inside
    # those partitions, rank across the probed union. At 100 TB the
    # probed-partition join stays a broadcast of (query × nprobe) rows
    # against a label-partitioned corpus scan.
    from electrician_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    out = sim.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, nprobe=2)
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy("query_id", "rank")


def _kmeans_oracle_sql(k: int = 4, iters: int = 2, dim: int = 64) -> str:
    """Unrolled Lloyd's iterations as DuckDB CTEs — the SQL replay of
    ``similarity.kmeans_labels`` + ``ivf_topk``. Every float operation
    mirrors the Spark plan: sequential-fold dot products, per-iteration
    centroid means rounded to 6dp, (cos DESC, cl) assignment
    tie-break, and the final IVF stage identical to q_n2's oracle but
    with the k-means assignment in place of the label column."""

    def cos(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range({dim}), i -> {a}[i+1] * {b}[i+1])) / "
            f"(sqrt(list_sum(list_transform({a}, x -> x * x))) * "
            f"sqrt(list_sum(list_transform({b}, x -> x * x))))"
        )

    dims = f"(SELECT unnest(range({dim})) AS dim) d"
    ctes = [
        "v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv "
        "FROM embeddings)",
        # md5-seeded deterministic init: the k smallest hash keys
        "c0 AS (SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), "
        "vec_id) - 1 AS INTEGER) AS cl, vv AS centroid FROM v "
        f"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})",
    ]
    for it in range(1, iters + 1):
        ctes.append(
            f"a{it} AS (SELECT vec_id, vv, cl FROM (SELECT v.vec_id, v.vv, c.cl, "
            f"row_number() OVER (PARTITION BY v.vec_id ORDER BY "
            f"{cos('v.vv', 'c.centroid')} DESC, c.cl) AS rn FROM v, c{it - 1} c) t "
            "WHERE rn = 1)"
        )
        ctes.append(
            f"m{it} AS (SELECT cl, d.dim AS dim, round(avg(vv[d.dim + 1]), 6) AS m "
            f"FROM a{it}, {dims} GROUP BY cl, d.dim)"
        )
        ctes.append(
            f"c{it} AS (SELECT cl, list(m ORDER BY dim) AS centroid FROM m{it} GROUP BY cl)"
        )
    ctes.append(
        f"af AS (SELECT vec_id, vv, cl FROM (SELECT v.vec_id, v.vv, c.cl, "
        f"row_number() OVER (PARTITION BY v.vec_id ORDER BY "
        f"{cos('v.vv', 'c.centroid')} DESC, c.cl) AS rn FROM v, c{iters} c) t WHERE rn = 1)"
    )
    # Final IVF stage == q_n2's oracle with af as the label assignment:
    # member-mean centroids (unrounded — label_centroids), route, probe,
    # in-partition brute force.
    ctes += [
        f"mf AS (SELECT cl, d.dim AS dim, avg(vv[d.dim + 1]) AS m FROM af, {dims} "
        "GROUP BY cl, d.dim)",
        "cf AS (SELECT cl, list(m ORDER BY dim) AS centroid FROM mf GROUP BY cl)",
        "norms AS (SELECT vec_id, vv, sqrt(list_sum(list_transform(vv, x -> x * x))) AS nrm "
        "FROM v)",
        "q AS (SELECT vec_id AS query_id, vv AS qv, nrm AS qn FROM norms WHERE vec_id < 10)",
        "routed AS (SELECT query_id, qv, qn, cl, "
        f"{cos('qv', 'centroid')} AS ccos FROM q, cf)",
        "probe AS (SELECT query_id, qv, qn, cl FROM (SELECT *, row_number() OVER "
        "(PARTITION BY query_id ORDER BY ccos DESC, cl) AS rn FROM routed) r WHERE rn = 1)",
        "scored AS (SELECT query_id, a.vec_id AS neighbor_id, "
        f"round(list_sum(list_transform(range({dim}), i -> qv[i+1] * a.vv[i+1])) "
        "/ (qn * n2.nrm), 4) AS cos "
        "FROM probe p JOIN af a ON a.cl = p.cl AND a.vec_id != p.query_id "
        "JOIN norms n2 ON n2.vec_id = a.vec_id)",
        "ranked AS (SELECT query_id, neighbor_id, cos, row_number() OVER "
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)",
    ]
    return (
        "WITH " + ", ".join(ctes) + " SELECT query_id, neighbor_id, cos, rank "
        "FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"
    )


@query(
    "q_n3_ann_ivf_kmeans",
    _kmeans_oracle_sql(),
    tags=("similarity",),
)
def q_n3(spark, sf_dir):
    # IVF on an UNLABELED corpus: deterministic k-means bootstrap
    # (md5-seeded init, fixed 2 iterations, 6dp-rounded centroid means)
    # produces the partition assignment, then the q_n2 IVF plan runs on
    # it. The oracle replays the identical Lloyd's iterations in SQL.
    from electrician_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings").drop("label")  # prove no label needed
    labeled = sim.kmeans_labels(emb, k=4, iters=2)
    out = sim.ivf_topk(
        labeled, emb.filter(F.col("vec_id") < 10), k=5, label_col="label_km"
    )
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# §2.11 Sinks — round-trip and upsert semantics
# ---------------------------------------------------------------------------


@query(
    "q_k1_parquet_roundtrip",
    "SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS order_year, count(*) AS n "
    "FROM orders GROUP BY 1 ORDER BY 1",
    tags=("sink",),
)
def q_k1(spark, sf_dir):
    # K2 parquet writer with {yyyy} time-partition template → read back →
    # per-partition counts must equal the source aggregation (Q-K1).
    import tempfile

    from electrician_spark.io import write_parquet_partitioned

    orders = _t(spark, sf_dir, "orders")
    path = tempfile.mkdtemp(prefix="esk_k1_") + "/orders"
    write_parquet_partitioned(orders, path, ts_col="o_orderdate", template="{yyyy}")
    back = spark.read.parquet(path)
    return (
        back.groupBy(F.col("_yyyy").cast("int").alias("order_year"))
        .agg(F.count("*").alias("n"))
        .orderBy("order_year")
    )


@query(
    "q_k2_ndjson_roundtrip",
    "SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total FROM orders",
    tags=("sink",),
)
def q_k2(spark, sf_dir):
    # K1 NDJSON writer round-trip: write, read back, order-insensitive
    # aggregate equality (Q-K2).
    import tempfile

    from electrician_spark.io import read_ndjson, write_ndjson

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="esk_k2_") + "/orders"
    write_ndjson(orders, path)
    back = read_ndjson(spark, path)
    return back.agg(
        F.count("*").alias("n"), rel.round2(F.sum("o_totalprice")).alias("total")
    )


@query(
    "q_k4_upsert_idempotent",
    "SELECT count(*) AS n_rows, count(DISTINCT o_custkey) AS n_keys FROM "
    "(SELECT DISTINCT o_custkey FROM orders) t",
    tags=("sink",),
)
def q_k4(spark, sf_dir):
    # K4 ON CONFLICT DO UPDATE semantics: applying the same keyed batch
    # twice leaves exactly one row per key (Q-K4).
    from electrician_spark.operators.upsert import apply_idempotent

    batch = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    final = apply_idempotent(batch, keys=["o_custkey"], times=2)
    return final.agg(
        F.count("*").alias("n_rows"), F.countDistinct("o_custkey").alias("n_keys")
    )


@query(
    "q_kc1_kafka_consume_census",
    "SELECT event_type, count(*) AS n, count(DISTINCT event_id) AS n_ids, "
    "CAST(0 AS BIGINT) AS n_key_mismatch "
    "FROM events WHERE event_id < 800 GROUP BY event_type ORDER BY event_type",
    tags=("source", "kafka", "streaming"),
)
def q_kc1(spark, sf_dir):
    # S4 consumer round-trip EXECUTED end-to-end (reference
    # pkg/internal/adapter/kafkaclient/reader.go:17-120): a closed-form
    # slice of events is PRODUCED onto the in-process DSv2 broker via
    # the K3 frame (template keys, JSON values, crc32 key-hash
    # partitioning across 4 partitions), then CONSUMED back with
    # readStream — startingOffsets=earliest and maxOffsetsPerTrigger=100
    # both honored, so the read is paced across >=2 real micro-batches
    # like the reference's poll loop (asserted from recentProgress) —
    # decoded, and censused against the events table. n_key_mismatch
    # attests the template-key transport: the id parsed from the KEY
    # must equal the id in the VALUE for every consumed record.
    # availableNow is deliberately NOT used here: Spark's available-now
    # wrapper snapshots latestOffset() once, and with a paced source
    # that snapshot is only the first poll window (measured: 400 of 800
    # rows) — the processingTime trigger with a sink-side row count is
    # the pattern the kafka_fake contract tests pin.
    from electrician_spark import kafka_fake
    from electrician_spark.streaming.sinks import kafka_frame

    kafka_fake.register(spark)
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 800)
        .select("event_id", "event_type")
    )
    expected = ev.count()  # closed-form slice size (bounded, <= 800)
    frame = kafka_frame(
        ev,
        value_cols=["event_id", "event_type"],
        key_template="ev:{event_id}",
        topic="events",
    )

    def build(broker):
        frame.write.format("kafka_fake").options(
            brokerDir=broker, topic="events", numPartitions="4"
        ).mode("append").save()
        stream = (
            spark.readStream.format("kafka_fake")
            .options(
                brokerDir=broker,
                subscribe="events",
                startingOffsets="earliest",
                maxOffsetsPerTrigger="100",
            )
            .load()
        )
        key_str = F.decode(F.col("key"), "utf-8")
        val_str = F.decode(F.col("value"), "utf-8")
        return stream.select(
            F.split(key_str, ":").getItem(1).cast("long").alias("key_id"),
            F.get_json_object(val_str, "$.event_id").cast("long").alias("event_id"),
            F.get_json_object(val_str, "$.event_type").alias("event_type"),
        )

    # pacing proof, derived from the slice rather than hard-coded: a
    # trigger reads at most 4 partitions x 100 offsets, so the run takes
    # at least ceil(expected / 400) batches — 2 at the standard 800-row
    # slice, degrading gracefully if a fixture ever shrinks the slice
    consumed = _memory_run(spark, "esk_kc1_", build, paced=(expected, 400))
    return (
        consumed.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("event_id").alias("n_ids"),
            F.sum((F.col("key_id") != F.col("event_id")).cast("long")).alias(
                "n_key_mismatch"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "q_kt1_kafka_timestamp_start",
    "SELECT event_type, count(*) AS n, count(DISTINCT event_id) AS n_ids "
    "FROM (SELECT event_id, event_type, "
    "row_number() OVER (ORDER BY event_id) - 1 AS rk "
    "FROM events WHERE event_id < 800) t "
    "WHERE rk >= (SELECT CAST(FLOOR(count(*) / 2) AS BIGINT) "
    "FROM events WHERE event_id < 800) "
    "GROUP BY event_type ORDER BY event_type",
    tags=("source", "kafka", "streaming"),
)
def q_kt1(spark, sf_dir):
    # S4 StartAt=timestamp EXECUTED (reference
    # pkg/internal/types/kafka_adapter.go:95-97 — replay-from-instant,
    # the consume option q_kc1's earliest-start round-trip does not
    # reach): the events slice is produced SORTED onto one partition
    # (one task → one segment, so broker offset k = k-th smallest
    # event_id), then consumed with startingOffsetsByTimestamp at the
    # mid-log instant. The fake broker's synthetic clock stamps offset
    # k with ts = k seconds, so the cutoff is closed-form: starting at
    # t = K*1000 ms must deliver exactly the suffix from the K-th
    # smallest id on — which the oracle replays over the events table
    # as a row_number() rank filter (no id-density assumption). The
    # value-hash census over (event_type, n, n_ids) attests the exact
    # suffix, not just its size; maxOffsetsPerTrigger pacing stays on
    # (>=2 micro-batches asserted).
    import json as _json

    from electrician_spark import kafka_fake
    from electrician_spark.streaming.sinks import kafka_frame

    kafka_fake.register(spark)
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 800)
        .select("event_id", "event_type")
    )
    expected = ev.count()  # closed-form slice size (bounded, <= 800)
    cut = expected // 2  # mid-log offset; ts cutoff = cut*1000 ms
    frame = kafka_frame(
        ev.coalesce(1).sortWithinPartitions("event_id"),
        value_cols=["event_id", "event_type"],
        key_template="ev:{event_id}",
        topic="events_ts",
    )

    def build(broker):
        frame.write.format("kafka_fake").options(
            brokerDir=broker, topic="events_ts", numPartitions="1"
        ).mode("append").save()
        stream = (
            spark.readStream.format("kafka_fake")
            .options(
                brokerDir=broker,
                subscribe="events_ts",
                startingOffsetsByTimestamp=_json.dumps({"events_ts": {"-1": cut * 1000}}),
                maxOffsetsPerTrigger="200",
            )
            .load()
        )
        val_str = F.decode(F.col("value"), "utf-8")
        return stream.select(
            F.get_json_object(val_str, "$.event_id").cast("long").alias("event_id"),
            F.get_json_object(val_str, "$.event_type").alias("event_type"),
        )

    # one partition × 200 offsets per trigger — 2 paced batches at the
    # standard 400-record suffix, degrading gracefully with the fixture
    consumed = _memory_run(spark, "esk_kt1_", build, paced=(expected - cut, 200))
    return (
        consumed.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.countDistinct("event_id").alias("n_ids"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# §2.7 W9 / §3.3 — custom stateful streaming (applyInPandasWithState)
# ---------------------------------------------------------------------------


@query(
    "q_r1_resequenced_replay",
    "SELECT CAST(user_id AS VARCHAR) AS key, "
    "CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq, "
    "CAST(event_id AS VARCHAR) AS payload "
    "FROM events WHERE user_id <= 20 ORDER BY key, seq",
    tags=("stateful", "streaming"),
)
def q_r1(spark, sf_dir):
    # DELIVERY_RELIABLE_ORDERED receiver: events are seq-stamped per
    # user, written out hash-shuffled (arrival order destroyed), then
    # replayed through readStream micro-batches into the
    # applyInPandasWithState resequencer — which must reconstruct exact
    # per-key seq order, buffering gaps across batch boundaries. The
    # oracle is the order the forward relay stamped.
    from pyspark.sql import Window

    from electrician_spark.streaming import stateful
    from electrician_spark.streaming.sources import file_stream

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seqd = ev.select(
        F.col("user_id").cast("string").alias("key"),
        F.row_number().over(w).cast("long").alias("seq"),
        F.col("event_id").cast("string").alias("payload"),
    )

    def build(src):
        seqd.repartition(8).write.mode("overwrite").parquet(src)
        stream = file_stream(spark, src, seqd.schema, max_files_per_trigger=3)
        return stateful.resequence(stream)

    return _memory_run(spark, "esk_r1_", build).orderBy("key", "seq")


# ---------------------------------------------------------------------------
# Scale hygiene — skew-safe aggregation must be value-identical
# ---------------------------------------------------------------------------


@query(
    "q_sk1_salted_agg",
    "SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty "
    "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    tags=("skew",),
)
def q_sk1(spark, sf_dir):
    # Three hot keys own the whole table — the shape AQE can't split
    # when a single key exceeds any partition. Two-phase salted
    # aggregation must produce bit-identical results to the plain
    # groupBy oracle.
    from electrician_spark.operators.skew import salted_agg

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    out = salted_agg(
        li, ["l_returnflag"], {"n": "count(*)", "sum_qty": "sum(l_quantity)"}, n_salts=16
    )
    return out.select(
        "l_returnflag", F.col("n"), rel.round2(F.col("sum_qty")).alias("sum_qty")
    ).orderBy("l_returnflag")


@query(
    "q_sk2_salted_join",
    "SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 2) AS total "
    "FROM (SELECT CASE WHEN o_orderkey % 10 < 9 THEN 1 ELSE o_custkey % 50 END AS k, "
    "o_totalprice FROM orders) o "
    "JOIN (SELECT c_custkey AS k, c_mktsegment FROM customer WHERE c_custkey < 50) c "
    "USING (k) "
    "GROUP BY c_mktsegment ORDER BY c_mktsegment",
    tags=("skew", "join"),
)
def q_sk2(spark, sf_dir):
    # The hot-KEY join — the classic 100x-scale killer: AQE's skew-join
    # splitting rebalances oversized shuffle partitions, but a single
    # join key bigger than any split still lands on one task unless the
    # key itself is spread. 90% of orders collapse onto key 1 here;
    # skew.salted_join salts the big side and replicates the dim row
    # per salt (explode x n_salts), so the hot key fans out across 8
    # reducers. Must be value-identical to the plain-join oracle —
    # salts are a partitioning device and never leak into results.
    # Executed-plan posture (pinned in test_plans): the dim side shows
    # the salt-sequence Generate and the join condition carries
    # (k, _salt).
    from electrician_spark.operators.skew import salted_join

    orders = _t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 10 < 9, F.lit(1).cast("long"))
        .otherwise(F.col("o_custkey") % 50)
        .alias("k"),
        "o_totalprice",
    )
    dim = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 50)
        .select(F.col("c_custkey").alias("k"), "c_mktsegment")
    )
    out = salted_join(orders, dim, on="k", n_salts=8, how="inner")
    return (
        out.groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"), rel.round2(F.sum("o_totalprice")).alias("total"))
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing — binary payload features through mapInPandas
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Families previously covered only by local tests — tagger, map headers,
# blackout / TTL windows, retry semantics, compression codecs — each now
# with a driver-gated oracle row.
# ---------------------------------------------------------------------------


@query(
    "q_w7_ttl_expiry",
    "SELECT event_type, count(*) AS n FROM events "
    "WHERE ts > TIMESTAMP '2024-01-08 00:00:00' GROUP BY event_type",
    tags=("window", "relay"),
)
def q_w7(spark, sf_dir):
    # DropPolicy EXPIRED through the full envelope stack: wrap events
    # with a 7-day TTL (compressed + encrypted payloads), unwrap at a
    # fixed replay instant, count survivors from the DECODED payload —
    # so the oracle row proves TTL filtering AND the
    # encrypt→compress→decode roundtrip in one pass.
    from electrician_spark import envelope

    ev = _t(spark, sf_dir, "events")
    wrapped = envelope.wrap(
        ev.select("event_id", "event_type", "ts"),
        payload_cols=["event_id", "event_type"],
        ts=F.col("ts"),
        ttl_seconds=7 * 86400,
        compression="deflate",
        encryption_key="0123456789abcdef",
    )
    un = envelope.unwrap(
        wrapped,
        "event_id bigint, event_type string",
        compression="deflate",
        encryption_key="0123456789abcdef",
        drop_expired_at=TS("2024-01-15 00:00:00"),
    )
    return (
        un.filter(F.col("payload_ok"))
        .groupBy(F.col("_decoded.event_type").alias("event_type"))
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_r2_retry_backoff",
    "SELECT 3 AS n_calls, '1.0,2.0' AS backoff_schedule, count(*) AS n_errors "
    "FROM events WHERE event_type = 'error'",
    tags=("reliability",),
)
def q_r2(spark, sf_dir):
    # Executes retry_call for real: the batch loader fails twice, the
    # insulator re-attempts with exponential backoff, and the recorded
    # call count + sleep schedule are emitted as columns the oracle
    # pins. Reference: wire/transform.go:60-77.
    from electrician_spark import reliability

    delays: list[float] = []
    calls = {"n": 0}

    def flaky_load():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient source failure")
        return _t(spark, sf_dir, "events").filter(F.col("event_type") == "error")

    df = reliability.retry_call(
        flaky_load, max_retries=3, interval_sec=1.0, backoff=2.0, sleep=delays.append
    )
    return df.agg(
        F.lit(calls["n"]).alias("n_calls"),
        F.lit(",".join(str(d) for d in delays)).alias("backoff_schedule"),
        F.count("*").alias("n_errors"),
    )


@query(
    "q_z1_compression_roundtrip",
    "SELECT doc_id, sha256(text) AS sha_orig, sha256(text) AS sha_deflate, "
    "sha256(text) AS sha_gzip, sha256(text) AS sha_bz2, sha256(text) AS sha_xz "
    "FROM documents",
    tags=("codecs",),
)
def q_z1(spark, sf_dir):
    # Every stdlib-backed relay codec (relaycodec/codec.go:152-183)
    # round-trips each document body; equality with the original is
    # proven through the content hash, which the oracle recomputes from
    # the source text (so a codec that corrupts even one byte fails the
    # driver hash).
    from electrician_spark.functions import codecs

    docs = _t(spark, sf_dir, "documents")
    raw = F.encode(F.col("text"), "utf-8").cast("binary")
    out = [F.sha2(raw, 256).alias("sha_orig")]
    for codec in ("deflate", "gzip", "bz2", "xz"):
        out.append(
            F.sha2(codecs.decompress(codecs.compress(raw, codec), codec), 256).alias(
                f"sha_{codec}"
            )
        )
    return docs.select("doc_id", *out)


# ---------------------------------------------------------------------------
# Temporal operators — as-of join, bucketized range join, hypertable rollup
# (operators/temporal.py; the batch analogues of the reference's ordered
# event handling, receiver.go resequencing / trigger time windows)
# ---------------------------------------------------------------------------


@query(
    "q_aj1_asof_join",
    "SELECT l.event_id, l.user_id, l.ts, r.ts AS view_ts, r.value AS view_value "
    "FROM (SELECT * FROM events WHERE event_type = 'click') l "
    "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r "
    "ON l.user_id = r.user_id AND l.ts >= r.ts",
    tags=("temporal", "events"),
)
def q_aj1(spark, sf_dir):
    # For every click, the most recent prior view by the same user —
    # the "join each event to the latest state before it" shape. The
    # union+window implementation is one shuffle on user_id, no Python.
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    out = temporal.asof_join(clicks, views, on="ts", by=["user_id"])
    return out.select(
        "event_id", "user_id", "ts", F.col("ts_r").alias("view_ts"), "view_value"
    )


@query(
    "q_rj1_range_join",
    "SELECT p.event_id AS purchase_id, count(*) AS n_clicks, "
    "round(sum(c.value), 2) AS sum_click_value "
    "FROM (SELECT * FROM events WHERE event_type = 'purchase') p "
    "JOIN (SELECT * FROM events WHERE event_type = 'click') c "
    "ON c.ts >= p.ts AND c.ts < p.ts + INTERVAL 10 MINUTE "
    "GROUP BY purchase_id",
    tags=("temporal", "events"),
)
def q_rj1(spark, sf_dir):
    # Clicks landing inside the 10 minutes after each purchase — a pure
    # inequality join (no equi-key). Bucketizing on 10-minute epochs
    # turns the nested-loop plan into a shuffle hash join.
    ev = _t(spark, sf_dir, "events")
    width_us = 600 * 1_000_000  # bucket = the interval length
    # cast("timestamp") tolerates TIMESTAMP_NTZ parquet columns (Spark 4
    # NTZ inference); identity micros under the UTC session timezone.
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        ts_us.alias("lo"),
        (ts_us + F.lit(width_us)).alias("hi"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        ts_us.alias("c_us"), F.col("value").alias("c_value")
    )
    pairs = temporal.range_join(clicks, "c_us", purchases, "lo", "hi", bucket_width=width_us)
    return pairs.groupBy("purchase_id").agg(
        F.count("*").alias("n_clicks"),
        rel.round2(F.sum("c_value")).alias("sum_click_value"),
    )


@query(
    "q_ht1_hypertable_rollup",
    "SELECT grain, bucket_ts, n, sum_value, min_value, max_value FROM ("
    "SELECT 'minute' AS grain, date_trunc('minute', ts) AS bucket_ts, count(*) AS n, "
    "round(sum(value), 2) AS sum_value, min(value) AS min_value, max(value) AS max_value "
    "FROM events GROUP BY bucket_ts "
    "UNION ALL SELECT 'hour', date_trunc('hour', ts), count(*), round(sum(value), 2), "
    "min(value), max(value) FROM events GROUP BY 2 "
    "UNION ALL SELECT 'day', CAST(date_trunc('day', ts) AS TIMESTAMP), count(*), "
    "round(sum(value), 2), min(value), max(value) FROM events GROUP BY 2)",
    tags=("temporal", "events"),
)
def q_ht1(spark, sf_dir):
    # Minute/hour/day rollup in one cascaded job: raw is shuffled once
    # (minute grain); hour and day re-aggregate the partials via a
    # ReusedExchange (pinned in test_temporal).
    ev = _t(spark, sf_dir, "events")
    out = temporal.hypertable_rollup(ev, "ts", "value")
    return out.select(
        "grain",
        "bucket_ts",
        "n",
        rel.round2(F.col("sum_value")).alias("sum_value"),
        "min_value",
        "max_value",
    )


# ---------------------------------------------------------------------------
# Curation rows: chunking, LM perplexity buckets, domain mixture +
# temperature rates, SemDeDup.
# ---------------------------------------------------------------------------


@query(
    "q_ch1_chunk_documents",
    # Sliding-window chunking replayed in SQL: stride = 32 − 8 = 24,
    # 1-based starts s = 1, 25, 49, … ≤ max(n − overlap, 1); chunk_id
    # is the ordinal (s−1)/stride. Integer arithmetic end to end.
    "WITH t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), "
    "x -> x <> '') AS tk FROM documents), "
    "nz AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) > 0), "
    "st AS (SELECT doc_id, tk, n, unnest(range(1, greatest(n - 8, 1) + 1, 24)) AS s FROM nz), "
    "ch AS (SELECT doc_id, CAST((s - 1) // 24 AS BIGINT) AS chunk_id, "
    "list_slice(tk, s, least(s + 31, n)) AS chunk FROM st) "
    "SELECT doc_id, chunk_id, "
    "CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_chunks, "
    "CAST(len(chunk) AS BIGINT) AS chunk_tokens, "
    "array_to_string(chunk, ' ') AS chunk_text "
    "FROM ch ORDER BY doc_id, chunk_id",
    tags=("packing", "text"),
)
def q_ch1(spark, sf_dir):
    # operators/packing.chunk_documents: tokenize once per row, cut
    # with sequence+slice inside one JVM expression, ONE explode — no
    # shuffle, no Python, no per-chunk re-tokenization (plan pinned in
    # test_packing). max_tokens=32, overlap=8 exercises both the
    # overlap stride and the tail rule (final chunk reaches the last
    # token; a short tail never spawns a contained duplicate).
    from electrician_spark.operators import packing

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = packing.chunk_documents(docs, max_tokens=32, overlap=8)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.col("chunk_tokens").cast("long").alias("chunk_tokens"),
        "chunk_text",
    ).orderBy("doc_id", "chunk_id")


@query(
    "q_dm1_domain_mixture",
    # Domain census + temperature-flattened sampling rates. URLs are
    # synthesized from the source column (documents carry no url field)
    # with a multi-part-suffix split so registrable-domain extraction
    # exercises both the 2-label and .co.uk paths; the oracle replays
    # the equivalent census directly. T=2, target_fraction=0.5:
    # rate_d = min(1, 0.5·N·p_d/c_d), p_d ∝ (c_d/N)^(1/2) — pow(x,0.5)
    # on both sides (CPython ** delegates to the same libm pow).
    "WITH d AS (SELECT source || (CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.com' END) "
    "AS domain FROM documents), "
    "c AS (SELECT domain, count(*) AS docs FROM d GROUP BY domain), "
    "t AS (SELECT sum(docs) AS total FROM c), "
    "p AS (SELECT domain, docs, total, pow(docs * 1.0 / total, 0.5) AS pw FROM c CROSS JOIN t), "
    "z AS (SELECT sum(pw) AS z FROM p) "
    "SELECT domain, docs, round(docs * 1.0 / total, 6) AS share, "
    "round(least(1.0, 0.5 * total * (pw / z) / docs), 6) AS rate "
    "FROM p CROSS JOIN z ORDER BY domain",
    tags=("url", "sampling"),
)
def q_dm1(spark, sf_dir):
    # functions/url.domain_mixture: registrable-domain parse (parse_url
    # + suffix heuristic, pure codegen) → one map-side-combined groupBy
    # → share via a broadcast single-row total join (never an
    # unpartitioned window). temperature_rates then runs its documented
    # bounded-driver arithmetic over the collected census (≤ distinct
    # domains — the same bounded-collect contract as k-means
    # centroids) and rejoins as a local table.
    from electrician_spark.functions import url as u
    from electrician_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        F.concat(
            F.lit("https://www."),
            F.col("source"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(".co.uk")).otherwise(F.lit(".com")),
            F.lit("/d/"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    mix = u.domain_mixture(urls)
    census = {r["domain"]: r["docs"] for r in mix.collect()}  # bounded: one row per domain
    rates = sampling.temperature_rates(census, temperature=2.0, target_fraction=0.5)
    rate_df = spark.createDataFrame(
        [(d, r) for d, r in sorted(rates.items())], "domain string, rate double"
    )
    return (
        mix.join(F.broadcast(rate_df), "domain")
        .select(
            "domain",
            "docs",
            F.round("share", 6).alias("share"),
            F.round("rate", 6).alias("rate"),
        )
        .orderBy("domain")
    )


@query(
    "q_sd1_semantic_dedup",
    # SemDeDup with an externally-supplied clustering (the embeddings
    # table's label column — the documented label_col reuse path):
    # cluster-local exact pairs at cos ≥ 0.4, connected into duplicate
    # groups, minimum-id member kept. Oracle = within-label pair join +
    # 2-round min-label propagation (exact: fixture components verified
    # diameter ≤ 1 at sf0.01/sf0.001) + NOT IN drop-list.
    f"WITH {_SQL_NORM_CTE}, "
    "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM embeddings a "
    "JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id "
    "JOIN norms na ON na.vec_id = a.vec_id JOIN norms nb ON nb.vec_id = b.vec_id "
    f"WHERE round({_SQL_DOT.format(a='a.embedding', b='b.embedding')} / (na.nrm * nb.nrm), 4) >= 0.4), "
    "sym AS (SELECT id_a AS src, id_b AS dst FROM p "
    "UNION ALL SELECT id_b, id_a FROM p), "
    "l0 AS (SELECT src AS node, least(src, min(dst)) AS rep FROM sym GROUP BY src), "
    "l1 AS (SELECT l0.node, least(l0.rep, min(ln.rep)) AS rep "
    "FROM l0 JOIN sym ON sym.src = l0.node JOIN l0 ln ON ln.node = sym.dst "
    "GROUP BY l0.node, l0.rep) "
    "SELECT vec_id, label FROM embeddings "
    "WHERE vec_id NOT IN (SELECT node FROM l1 WHERE rep <> node) "
    "ORDER BY vec_id",
    tags=("similarity", "dedup"),
)
def q_sd1(spark, sf_dir):
    # semantic_dedup via operators/similarity: pairs come from the
    # cluster-grouped blocked GEMM (one BLAS matmul per (cluster,
    # block-pair) — task memory bounded at rows_per_block² no matter
    # how skewed the clustering), components from the O(log n)
    # large-star/small-star rounds, final cut a broadcast anti-join.
    # label_col reuse skips Lloyd's — the path a pipeline with a
    # precomputed shard/domain/k-means assignment takes.
    from electrician_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    out = sim.semantic_dedup(
        emb, threshold=0.4, label_col="label", blocks=2
    )
    return out.select("vec_id", "label").orderBy("vec_id")


# ---------------------------------------------------------------------------
# PQ ADC search, bigram Stupid-Backoff LM with approxQuantile buckets,
# the Gopher quality and repetition battery.
# ---------------------------------------------------------------------------

# PQ constants shared by the Spark queries and the SQL replays:
# m=4 subspaces × 16 dims, k=4 centroids, 1 Lloyd round, centroid means
# rounded 6dp per round (quantize.pq_train's determinism contract).
_SQL_PQ_SUBDIST = (
    "list_sum(list_transform(range(16), i -> "
    "({a}[i+1] - {b}[i+1]) * ({a}[i+1] - {b}[i+1])))"
)
# Replays pq_train seeding (k distinct subvectors per subspace by
# smallest (md5(id), id) carrier) + one Lloyd round (assign to nearest
# seed, mean per dim rounded 6dp, empty clusters keep their seed) +
# pq_encode (argmin over the round-1 codebook, ties to lowest index).
_SQL_PQ_CODES = (
    "subs AS (SELECT vec_id, label, s.sub AS sub, "
    "list_transform(list_slice(embedding, s.sub*16+1, (s.sub+1)*16), "
    "x -> CAST(x AS DOUBLE)) AS sv, md5(CAST(vec_id AS VARCHAR)) AS sk "
    "FROM embeddings, (SELECT unnest(range(4)) AS sub) s), "
    "dd AS (SELECT sub, sv, sk, vec_id, row_number() OVER "
    "(PARTITION BY sub, sv ORDER BY sk, vec_id) AS dup FROM subs), "
    "seeds AS (SELECT sub, rn - 1 AS cl, sv FROM ("
    "SELECT sub, sv, row_number() OVER (PARTITION BY sub ORDER BY sk, vec_id) AS rn "
    "FROM dd WHERE dup = 1) WHERE rn <= 4), "
    "a1 AS (SELECT vec_id, sub, sv, cl FROM ("
    "SELECT s.vec_id, s.sub, s.sv, c.cl, row_number() OVER "
    "(PARTITION BY s.vec_id, s.sub ORDER BY "
    + _SQL_PQ_SUBDIST.format(a="s.sv", b="c.sv")
    + ", c.cl) AS rn FROM subs s JOIN seeds c ON c.sub = s.sub) WHERE rn = 1), "
    "m1 AS (SELECT a1.sub, a1.cl, d.dim AS dim, round(avg(sv[d.dim+1]), 6) AS mn "
    "FROM a1, (SELECT unnest(range(16)) AS dim) d GROUP BY a1.sub, a1.cl, dim), "
    "b1 AS (SELECT sub, cl, list(mn ORDER BY dim) AS cv FROM m1 GROUP BY sub, cl), "
    "book1 AS (SELECT s.sub, s.cl, coalesce(b.cv, s.sv) AS cv "
    "FROM seeds s LEFT JOIN b1 b ON b.sub = s.sub AND b.cl = s.cl), "
    "codes AS (SELECT vec_id, label, sub, cl FROM ("
    "SELECT s.vec_id, s.label, s.sub, c.cl, row_number() OVER "
    "(PARTITION BY s.vec_id, s.sub ORDER BY "
    + _SQL_PQ_SUBDIST.format(a="s.sv", b="c.cv")
    + ", c.cl) AS rn FROM subs s JOIN book1 c ON c.sub = s.sub) WHERE rn = 1)"
)
_SQL_PQ_RANKED = (
    "dist AS (SELECT query_id, neighbor_id, round(sum(dsub), 6) AS dist "
    "FROM pd GROUP BY query_id, neighbor_id), "
    "ranked AS (SELECT query_id, neighbor_id, dist, "
    "CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) "
    "AS BIGINT) AS rank FROM dist) "
    "SELECT query_id, neighbor_id, dist, rank FROM ranked WHERE rank <= 5 "
    "ORDER BY query_id, rank"
)


@query(
    "q_pq1_pq_adc_topk",
    # Product quantization end to end: ADC distance to a coded vector
    # IS the L2² to its reconstruction, so the oracle decodes each
    # corpus vector through the replayed codebook and ranks by exact
    # reconstructed distance — the pq_topk identity, cross-engine.
    f"WITH {_SQL_PQ_CODES}, "
    "q AS (SELECT vec_id AS query_id, sub, sv AS qsv FROM subs WHERE vec_id < 10), "
    "pd AS (SELECT q.query_id, c.vec_id AS neighbor_id, "
    + _SQL_PQ_SUBDIST.format(a="q.qsv", b="b.cv")
    + " AS dsub FROM q JOIN codes c ON c.sub = q.sub AND c.vec_id <> q.query_id "
    "JOIN book1 b ON b.sub = q.sub AND b.cl = c.cl), "
    f"{_SQL_PQ_RANKED}",
    tags=("quantize", "similarity"),
)
def q_pq1(spark, sf_dir):
    # quantize.pq_train (md5-seeded, 1 Lloyd round, 6dp-rounded
    # centroids — the engine-replayable determinism contract) →
    # pq_encode (Arrow-batched argmin, codebook in the closure) →
    # pq_topk (per-query m×k LUT, one corpus scan, local top-k per
    # batch, global re-rank on (dist 6dp, neighbor_id)).
    from electrician_spark.operators import quantize as qz

    emb = _t(spark, sf_dir, "embeddings")
    books = qz.pq_train(emb, vec_col="embedding", m=4, k=4, iters=1, id_col="vec_id")
    codes = qz.pq_encode(emb, books, vec_col="embedding")
    out = qz.pq_topk(
        codes, emb.filter(F.col("vec_id") < 10), books, k=5,
        id_col="vec_id", vec_col="embedding",
    )
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy("query_id", "rank")


_SQL_EPOCH_KEY = (
    "CAST('0x' || substr(md5('{seed}:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"
)


_SQL_LM_TOKENS = (
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"
)


@query(
    "q_lm2_bigram_buckets",
    # Bigram Stupid Backoff (Brants 2007) + the PRODUCTION bucket path:
    # thresholds from exact-rank quantiles (Spark approxQuantile at
    # relativeError=0 returns the element at 1-based rank ceil(q·n) —
    # verified empirically incl. tie multisets), assignment by
    # ppl <= cut. Model replay: top-50 add-α unigrams; top-200 bigrams
    # by (count desc, pair), kept only when both tokens are in vocab;
    # context totals from the SAME truncated table; S(w|v) = c(v,w)/c(v)
    # on a hit, else 0.4 · P_uni(w); a document's first token scores by
    # unigram alone.
    "WITH ref AS (SELECT text FROM documents WHERE doc_id % 10 = 0), "
    f"tr AS (SELECT unnest({_SQL_LM_TOKENS}) AS token FROM ref), "
    "counts AS (SELECT token, count(*) AS c FROM tr GROUP BY token "
    "ORDER BY c DESC, token LIMIT 50), "
    "tot AS (SELECT sum(c) AS n, count(*) AS v FROM counts), "
    "model AS (SELECT token, ln((c + 0.5) / (n + 0.5 * (v + 1))) AS logprob "
    "FROM counts CROSS JOIN tot), "
    "oov AS (SELECT ln(0.5 / (n + 0.5 * (v + 1))) AS oov_lp FROM tot), "
    f"rtk AS (SELECT {_SQL_LM_TOKENS} AS tk FROM ref), "
    "bg AS (SELECT tk[i] AS prev, tk[i+1] AS token FROM "
    "(SELECT tk, unnest(range(1, len(tk))) AS i FROM rtk)), "
    "bc AS (SELECT prev, token, count(*) AS c FROM bg "
    "WHERE prev <> '' AND token <> '' GROUP BY prev, token "
    "ORDER BY c DESC, prev, token LIMIT 200), "
    "bkept AS (SELECT b.prev, b.token, b.c FROM bc b "
    "JOIN counts cp ON cp.token = b.prev JOIN counts ct ON ct.token = b.token), "
    "btot AS (SELECT prev, sum(c) AS pc FROM bkept GROUP BY prev), "
    "bmodel AS (SELECT k.prev, k.token, ln(k.c * 1.0 / t.pc) AS logscore "
    "FROM bkept k JOIN btot t ON t.prev = k.prev), "
    f"dtk AS (SELECT doc_id, {_SQL_LM_TOKENS} AS tk FROM documents), "
    "dpos AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i "
    "FROM dtk WHERE len(tk) > 0), "
    "drows AS (SELECT doc_id, CASE WHEN i = 1 THEN NULL ELSE tk[i-1] END AS prev, "
    "tk[i] AS token FROM dpos), "
    "scored AS (SELECT d.doc_id, count(*) AS n_tokens, "
    "avg(coalesce(bm.logscore, CASE WHEN d.prev IS NULL "
    "THEN coalesce(m.logprob, o.oov_lp) "
    "ELSE ln(0.4) + coalesce(m.logprob, o.oov_lp) END)) AS mean_ls "
    "FROM drows d LEFT JOIN bmodel bm ON bm.prev = d.prev AND bm.token = d.token "
    "LEFT JOIN model m ON m.token = d.token CROSS JOIN oov o GROUP BY d.doc_id), "
    "bk AS (SELECT doc_id, n_tokens, round(exp(-mean_ls), 6) AS ppl FROM scored), "
    "rk AS (SELECT ppl, row_number() OVER (ORDER BY ppl) AS rn, "
    "count(*) OVER () AS n FROM bk), "
    "cuts AS (SELECT max(CASE WHEN rn = CAST(ceil(n * (1.0/3.0)) AS BIGINT) "
    "THEN ppl END) AS c1, "
    "max(CASE WHEN rn = CAST(ceil(n * (2.0/3.0)) AS BIGINT) THEN ppl END) AS c2 "
    "FROM rk), "
    "lab AS (SELECT bk.*, CASE WHEN ppl <= c1 THEN 'head' "
    "WHEN ppl <= c2 THEN 'middle' ELSE 'tail' END AS bucket "
    "FROM bk CROSS JOIN cuts) "
    "SELECT bucket, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens, "
    "min(ppl) AS min_ppl, max(ppl) AS max_ppl FROM lab GROUP BY bucket ORDER BY bucket",
    tags=("lmquality", "text"),
)
def q_lm2(spark, sf_dir):
    # bigram_lm trains both orders in two bounded passes (vocab_size /
    # max_bigrams driver rows — the bounded-model contract);
    # lm_score_bigram is one explode → TWO broadcast joins → one
    # groupBy, zero Python. Unlike q_lm1's exact-NTILE replay, the
    # bucket stage here IS the production operator
    # (lmquality.perplexity_buckets): approxQuantile thresholds
    # (relativeError=0 → exact ranks, still no global sort of the
    # corpus — the summaries merge distributively) + a codegen'd CASE.
    from electrician_spark.operators import lmquality as lmq

    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 10 == 0)
    uni, bi = lmq.bigram_lm(ref, vocab_size=50, max_bigrams=200, alpha=0.5)
    scored = lmq.lm_score_bigram(docs, uni, bi, backoff=0.4)
    pre = scored.select(
        "doc_id",
        "n_tokens",
        F.round("pseudo_perplexity", 6).alias("perplexity"),
    )
    bucketed = lmq.perplexity_buckets(pre, n_buckets=3, relative_error=0.0)
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("perplexity").alias("min_ppl"),
            F.max("perplexity").alias("max_ppl"),
        )
        .orderBy("bucket")
    )


@query(
    "q_ir1_dsir_select",
    # DSIR (Xie et al. 2023, arXiv:2302.03169) full value replay:
    # hashed unigram+bigram features (md5 % 2048), add-one-smoothed
    # target (lang='en') and raw (lang<>'en') bag-of-ngrams models,
    # per-doc importance log-weights, deterministic Gumbel top-25.
    # Every raw-corpus bucket is in the raw model by construction, so
    # the scoring join needs no unseen-bucket default here.
    f"WITH toks AS (SELECT doc_id, lang = 'en' AS is_t, {_SQL_LM_TOKENS} AS ws "
    "FROM documents), "
    "uni AS (SELECT doc_id, is_t, ws[i] AS g FROM "
    "(SELECT doc_id, is_t, ws, unnest(range(1, len(ws) + 1)) AS i FROM toks)), "
    "bi AS (SELECT doc_id, is_t, ws[i] || ' ' || ws[i+1] AS g FROM "
    "(SELECT doc_id, is_t, ws, unnest(range(1, len(ws))) AS i FROM toks)), "
    "feat AS (SELECT doc_id, is_t, "
    "CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 2048 AS b "
    "FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)), "
    "tc AS (SELECT b, count(*) AS ct FROM feat WHERE is_t GROUP BY b), "
    "rc AS (SELECT b, count(*) AS cr FROM feat WHERE NOT is_t GROUP BY b), "
    "tot AS (SELECT (SELECT coalesce(sum(ct), 0) FROM tc) AS tt, "
    "(SELECT coalesce(sum(cr), 0) FROM rc) AS tr), "
    "llr AS (SELECT coalesce(tc.b, rc.b) AS b, "
    "ln(coalesce(ct, 0) + 1) - ln(tt + 2048) "
    "- ln(coalesce(cr, 0) + 1) + ln(tr + 2048) AS llr "
    "FROM tc FULL OUTER JOIN rc ON tc.b = rc.b CROSS JOIN tot), "
    "w AS (SELECT f.doc_id, round(sum(l.llr), 6) AS log_w, "
    "count(*) AS n_grams FROM feat f JOIN llr l ON l.b = f.b "
    "WHERE NOT f.is_t GROUP BY f.doc_id), "
    "keyed AS (SELECT doc_id, log_w, round(log_w - ln(-ln("
    f"({_SQL_EPOCH_KEY.format(seed=7)} + 0.5) / 4294967296.0)), 6) "
    "AS gumbel_key FROM w) "
    "SELECT doc_id, log_w, gumbel_key FROM keyed "
    "ORDER BY gumbel_key DESC, doc_id LIMIT 25",
    tags=("sampling", "llm"),
)
def q_ir1(spark, sf_dir):
    # operators/dsir.py end-to-end: two bounded model fits (map-side-
    # combinable groupBys, ≤ 2048 rows each), one broadcast-join
    # scoring pass (plan-pinned BroadcastHashJoin, zero Python), and a
    # Gumbel top-k that compiles to TakeOrderedAndProject — never a
    # global sort. 100 TB posture: two linear corpus scans + one
    # bounded broadcast; the only driver collects are the two scalar
    # model totals.
    from electrician_spark.operators import dsir

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    raw = docs.filter(F.col("lang") != "en")
    return dsir.dsir_select(raw, target, k=25, n_buckets=2048, seed=7)


# Planted line/paragraph structure for the Gopher battery: sentence
# breaks become newlines, every 3rd doc gains two duplicate boilerplate
# lines + a blank-line paragraph break + a trailing ellipsis — so the
# line/para dup signals and the ellipsis/bullet line rules all fire on
# fixture data that natively has no newlines.
_GQ_PLANT = (
    "regexp_replace(text, '\\. ', '.' || chr(10), 'g') || "
    "CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'CLICK HERE to win' || chr(10) || "
    "'CLICK HERE to win' || chr(10) || chr(10) || 'subscribe now...' ELSE '' END"
)
_GQ_FLAGS = (
    "word_count_ok", "avg_word_len_ok", "symbol_ratio_ok", "bullet_ratio_ok",
    "ellipsis_ratio_ok", "alpha_word_ratio_ok", "required_words_ok", "passes",
)
_GQ_REPS = (
    ["dup_line_frac", "dup_line_char_frac", "dup_para_frac", "dup_para_char_frac"]
    + [f"top_{n}gram_char_frac" for n in (2, 3, 4)]
    + [f"dup_{n}gram_char_frac" for n in (5, 6, 7, 8, 9, 10)]
)


def _gopher_oracle() -> str:
    """Replays the full Gopher battery (7 quality rules + passes, 13
    repetition signals) over the planted corpus, aggregated per lang."""
    ngram_units = " ".join(
        f"UNION ALL SELECT doc_id, 'g{n}' AS kind, unnest(CASE WHEN len(tk) >= {n} "
        f"THEN list_transform(range(1, len(tk) - {n} + 2), "
        f"i -> array_to_string(list_slice(tk, i, i + {n - 1}), ' ')) "
        "ELSE [] END) AS unit FROM tok"
        for n in range(2, 11)
    )
    piv_cols = ", ".join(
        f"max(CASE WHEN kind = '{k}' THEN {src} END) AS {k}_{tag}"
        for k in ["line", "para"] + [f"g{n}" for n in range(2, 11)]
        for src, tag in (("nu", "n"), ("nd", "d"), ("tc", "t"), ("uc", "u"))
    )
    rep_cols = (
        "round(CASE WHEN coalesce(line_n, 0) > 0 THEN (line_n - line_d) * 1.0 / line_n "
        "ELSE 0 END, 6) AS dup_line_frac, "
        "round(coalesce(line_u, 0) * 1.0 / chars, 6) AS dup_line_char_frac, "
        "round(CASE WHEN coalesce(para_n, 0) > 0 THEN (para_n - para_d) * 1.0 / para_n "
        "ELSE 0 END, 6) AS dup_para_frac, "
        "round(coalesce(para_u, 0) * 1.0 / chars, 6) AS dup_para_char_frac, "
        + ", ".join(
            f"round(coalesce(g{n}_t, 0) * 1.0 / chars, 6) AS top_{n}gram_char_frac"
            for n in (2, 3, 4)
        )
        + ", "
        + ", ".join(
            f"round(coalesce(g{n}_u, 0) * 1.0 / chars, 6) AS dup_{n}gram_char_frac"
            for n in (5, 6, 7, 8, 9, 10)
        )
    )
    # avg over 6dp-rounded fracs sits at rounding boundaries when fp
    # summation order differs between engines/plans — sum exact integer
    # micro-units instead, one double division at the end
    out_cols = ", ".join(
        [f"CAST(sum(CASE WHEN {k} THEN 1 ELSE 0 END) AS BIGINT) AS n_{k}" for k in _GQ_FLAGS]
        + [
            f"round(sum(CAST(round({r} * 1000000) AS BIGINT)) * 1.0 / count(*) "
            f"/ 1000000, 6) AS avg_{r}"
            for r in _GQ_REPS
        ]
    )
    return (
        f"WITH t AS (SELECT doc_id, lang, {_GQ_PLANT} AS text FROM documents), "
        "tok AS (SELECT doc_id, lang, text, "
        "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS tk, "
        "len(text) AS chars FROM t), "
        "f AS (SELECT doc_id, lang, "
        "len(tk) BETWEEN 50 AND 100000 AS word_count_ok, "
        "(list_sum(list_transform(tk, x -> len(x))) * 1.0 / len(tk)) BETWEEN 3.0 AND 10.0 "
        "AS avg_word_len_ok, "
        "((len(text) - len(replace(text, '#', ''))) "
        "+ (len(text) - len(replace(text, '…', ''))) "
        "+ (len(string_split_regex(text, '\\.\\.\\.')) - 1)) * 1.0 / len(tk) <= 0.1 "
        "AS symbol_ratio_ok, "
        "len(list_filter(string_split(text, chr(10)), "
        "l -> regexp_matches(trim(l), '^([-*•▪◼]|[0-9]+[.)])\\s'))) * 1.0 / "
        "len(string_split(text, chr(10))) < 0.9 AS bullet_ratio_ok, "
        "len(list_filter(string_split(text, chr(10)), "
        "l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$'))) * 1.0 / "
        "len(string_split(text, chr(10))) <= 0.3 AS ellipsis_ratio_ok, "
        "len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(tk) >= 0.8 "
        "AS alpha_word_ratio_ok, "
        "len(list_distinct(list_filter(list_transform(tk, x -> lower(x)), "
        "x -> list_contains(['the','be','to','of','and','that','have','with'], x)))) >= 2 "
        "AS required_words_ok FROM tok), "
        "fp AS (SELECT *, word_count_ok AND avg_word_len_ok AND symbol_ratio_ok "
        "AND bullet_ratio_ok AND ellipsis_ratio_ok AND alpha_word_ratio_ok "
        "AND required_words_ok AS passes FROM f), "
        "u AS (SELECT doc_id, 'line' AS kind, "
        "unnest(list_filter(string_split(text, chr(10)), x -> trim(x) <> '')) AS unit FROM t "
        "UNION ALL SELECT doc_id, 'para' AS kind, "
        "unnest(list_filter(string_split_regex(text, '\\n{2,}'), x -> trim(x) <> '')) "
        f"AS unit FROM t {ngram_units}), "
        "cnts AS (SELECT doc_id, kind, unit, count(*) AS c FROM u GROUP BY doc_id, kind, unit), "
        "roll AS (SELECT doc_id, kind, sum(c) AS nu, count(*) AS nd, "
        "max(c * len(unit)) AS tc, "
        "coalesce(sum(CASE WHEN c >= 2 THEN c * len(unit) END), 0) AS uc "
        "FROM cnts GROUP BY doc_id, kind), "
        f"piv AS (SELECT doc_id, {piv_cols} FROM roll GROUP BY doc_id), "
        f"rep AS (SELECT tok.doc_id, {rep_cols} FROM tok LEFT JOIN piv USING (doc_id)) "
        f"SELECT lang, count(*) AS n_docs, {out_cols} "
        "FROM fp JOIN rep USING (doc_id) GROUP BY lang ORDER BY lang"
    )


@query(
    "q_gq1_gopher_battery",
    _gopher_oracle(),
    tags=("text", "quality"),
)
def q_gq1(spark, sf_dir):
    # The full Gopher battery (Rae et al. 2021 A1.1) as first-class
    # operators: gopher_quality_flags is ONE codegen'd expression
    # emitting the 7 rule booleans + conjunction, and every repetition
    # signal is row-local (array_sort + aggregate run-length walk in
    # gopher_repetition_stats), so the WHOLE battery is a single
    # narrow projection — one scan, no self-join, and the only
    # exchange is the final tiny groupBy(lang) partial agg. The
    # repartition decouples compute parallelism from file splitting:
    # the battery is CPU-bound per row, and a corpus that arrives in
    # few large files (or one small one, as here) would otherwise pin
    # the whole projection to the scan's split count.
    from electrician_spark.functions import text as tx

    planted = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.concat(
            F.regexp_replace(F.col("text"), r"\. ", ".\n"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\nCLICK HERE to win\nCLICK HERE to win\n\nsubscribe now..."),
            ).otherwise(F.lit("")),
        ).alias("text"),
    ).repartition(spark.sparkContext.defaultParallelism)
    joined = tx.gopher_repetition_stats(planted, "doc_id", "text").withColumn(
        "f", tx.gopher_quality_flags(F.col("text"))
    )
    # aggs as parsed SQL strings (the _minhash_aggs py4j note): the
    # Column form cost ~7 JVM round trips per flag/repetition column
    return (
        joined.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            *[
                F.expr(f"sum(CAST(f.{k} AS BIGINT))").alias(f"n_{k}")
                for k in _GQ_FLAGS
            ],
            *[
                F.expr(
                    f"round(sum(CAST(round({r} * CAST(1000000 AS DOUBLE)) AS BIGINT))"
                    f" / count(*) / CAST(1000000 AS DOUBLE), 6)"
                ).alias(f"avg_{r}")
                for r in _GQ_REPS
            ],
        )
        .orderBy("lang")
    )


@query(
    "q_sv1_split_corpus",
    # Deterministic train/val/test split: cumulative md5-key bands over
    # the 32-bit sample key — per-id stable under corpus growth (unlike
    # randomSplit). Edges: train [0, .9), val [.9, .96), test [.96, 1).
    f"WITH keyed AS (SELECT doc_id, lang, {_SQL_SAMPLE_KEY} AS k FROM documents), "
    f"s AS (SELECT lang, CASE WHEN k < {int(0.9 * (1 << 32))} THEN 'train' "
    f"WHEN k < {int(0.96 * (1 << 32))} THEN 'val' ELSE 'test' END AS split "
    "FROM keyed) "
    "SELECT lang, split, count(*) AS n FROM s GROUP BY lang, split "
    "ORDER BY lang, split",
    tags=("sampling",),
)
def q_sv1(spark, sf_dir):
    # sampling.split_corpus: one codegen CASE over the md5 key, zero
    # shuffle until the census agg — membership never depends on
    # partitioning, row order, or the rest of the corpus.
    from electrician_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    out = sampling.split_corpus(docs, {"train": 0.9, "val": 0.06, "test": 0.04})
    return (
        out.groupBy("lang", "split")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "split")
    )


@query(
    "q_fim1_fim_transform",
    # Fill-in-the-middle (Bavarian 2022): doc selected iff the 32-bit
    # md5 prefix of 'seed:id:0:f' < rate; two md5-derived char cuts;
    # PSM sentinel serialization. Bit-exact cross-engine replay — the
    # conv/substr/md5 identity plus 1-based char substring semantics.
    "WITH h AS (SELECT doc_id, text, length(text) AS n, "
    "CAST('0x' || substr(md5(concat_ws(':', '11', CAST(doc_id AS VARCHAR), '0', 'f')), 1, 8) AS BIGINT) AS hf, "
    "CAST('0x' || substr(md5(concat_ws(':', '11', CAST(doc_id AS VARCHAR), '0', 'a')), 1, 8) AS BIGINT) AS ha, "
    "CAST('0x' || substr(md5(concat_ws(':', '11', CAST(doc_id AS VARCHAR), '0', 'b')), 1, 8) AS BIGINT) AS hb "
    "FROM documents WHERE doc_id <= 400), "
    "c AS (SELECT doc_id, text, n, "
    f"text IS NOT NULL AND n > 0 AND hf < {int(0.5 * (1 << 32))} AS sel, "
    "least(ha % (n + 1), hb % (n + 1)) AS c1, "
    "greatest(ha % (n + 1), hb % (n + 1)) AS c2 FROM h) "
    "SELECT doc_id, CASE WHEN sel THEN concat('<|fim_prefix|>', substr(text, 1, c1), "
    "'<|fim_suffix|>', substr(text, c2 + 1, n - c2), "
    "'<|fim_middle|>', substr(text, c1 + 1, c2 - c1)) ELSE text END AS fim_text, "
    "sel AS fim_applied FROM c ORDER BY doc_id",
    tags=("objectives",),
)
def q_fim1(spark, sf_dir):
    # objectives.fim_transform: pure Column substring arithmetic —
    # zero shuffle, zero Python; both cut draws hash (seed, id) only,
    # so cost is O(1) per row regardless of document length.
    from electrician_spark.operators import objectives

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 400)
    return (
        objectives.fim_transform(docs, mode="psm", seed=11)
        .select("doc_id", "fim_text", "fim_applied")
        .orderBy("doc_id")
    )


@query(
    "q_ex1_exif_census",
    # EXIF census over crafted APP1/TIFF fixtures (the q_px1
    # attestation pattern applied to metadata): every field is a pure
    # function of doc_id — byte order alternates II/MM (both walked),
    # GPS present unless doc_id % 3 = 0 (has_gps drives the PII flag),
    # doc_id % 10 = 7 payloads are not JPEGs at all and land in the
    # err channel with the exception's type name.
    "WITH f AS (SELECT doc_id, doc_id % 10 = 7 AS bad, doc_id % 3 <> 0 AS gps, "
    "1 + doc_id % 8 AS orient, 100 + (doc_id % 16) * 25 AS iso_v, "
    "doc_id % 90 AS lat_d, (doc_id * 7) % 60 AS lat_m, "
    "(doc_id * 13) % 180 AS lon_d, (doc_id * 11) % 60 AS lon_m, "
    "doc_id % 4 < 2 AS north, doc_id % 5 < 3 AS east "
    "FROM documents WHERE doc_id BETWEEN 1 AND 40) "
    "SELECT doc_id AS media_id, "
    "CASE WHEN bad THEN NULL ELSE 'CAM' || CAST(doc_id % 5 AS VARCHAR) END AS make, "
    "CASE WHEN bad THEN NULL ELSE 'MODEL-' || CAST(doc_id % 7 AS VARCHAR) END AS model, "
    "CASE WHEN bad THEN NULL ELSE orient END AS orientation, "
    "CASE WHEN bad THEN NULL ELSE iso_v END AS iso, "
    "CASE WHEN bad OR NOT gps THEN NULL ELSE "
    "round((CASE WHEN north THEN 1 ELSE -1 END) * (lat_d + lat_m / 60.0), 6) END AS gps_lat, "
    "CASE WHEN bad OR NOT gps THEN NULL ELSE "
    "round((CASE WHEN east THEN 1 ELSE -1 END) * (lon_d + lon_m / 60.0), 6) END AS gps_lon, "
    "CASE WHEN bad THEN NULL ELSE gps END AS has_gps, "
    "CASE WHEN bad THEN 'err:ValueError' ELSE 'ok' END AS ok "
    "FROM f ORDER BY media_id",
    tags=("multimodal",),
)
def q_ex1(spark, sf_dir):
    # multimodal.exif_metadata: Arrow-batched TIFF IFD walk (both byte
    # orders), per-row err channel. Fixtures synthesized EXECUTOR-side
    # from doc_id arithmetic — blobs never touch the driver.
    from electrician_spark import multimodal as mm

    ids = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter((F.col("doc_id") >= 1) & (F.col("doc_id") <= 40))
    )

    def synth(batches):
        import pandas as pd

        from electrician_spark import multimodal as m

        for batch in batches:
            mids, payloads = [], []
            for did in batch["doc_id"]:
                did = int(did)
                mids.append(did)
                if did % 10 == 7:
                    payloads.append(f"not a jpeg {did}".encode())
                    continue
                kw = {}
                if did % 3 != 0:
                    kw = dict(
                        lat_deg=did % 90, lat_min=(did * 7) % 60,
                        lat_ref="N" if did % 4 < 2 else "S",
                        lon_deg=(did * 13) % 180, lon_min=(did * 11) % 60,
                        lon_ref="E" if did % 5 < 3 else "W",
                    )
                payloads.append(
                    m.synth_jpeg_with_exif(
                        "II" if did % 2 == 0 else "MM",
                        make=f"CAM{did % 5}",
                        model=f"MODEL-{did % 7}",
                        orientation=1 + did % 8,
                        iso=100 + (did % 16) * 25,
                        **kw,
                    )
                )
            yield pd.DataFrame({"media_id": mids, "payload": payloads})

    media = ids.mapInPandas(synth, "media_id long, payload binary")
    return (
        mm.exif_metadata(media)
        .select(
            "media_id", "make", "model", "orientation", "iso",
            "gps_lat", "gps_lon", "has_gps", "ok",
        )
        .orderBy("media_id")
    )


@query(
    "q_wd1_webdataset_shards",
    # WebDataset tar export round-trip: shard membership/order is the
    # q_sh1 key-derived contract (md5 epoch key); the oracle recomputes
    # each tar's sample census from doc_id arithmetic alone, while
    # all_ok folds in the written files' sha256-manifest verification
    # and the reader's header walk.
    f"WITH keyed AS (SELECT doc_id, {_SQL_EPOCH_KEY.format(seed=5)} AS k FROM documents), "
    "sh AS (SELECT doc_id, k, CAST((k * 4) >> 32 AS BIGINT) AS shard FROM keyed), "
    "pos AS (SELECT shard, doc_id, k, row_number() OVER "
    "(PARTITION BY shard ORDER BY k, doc_id) AS rn, "
    "count(*) OVER (PARTITION BY shard) AS n FROM sh) "
    "SELECT shard, CAST(count(*) AS BIGINT) AS samples, "
    "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
    "CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS first_doc, "
    "CAST(min(CASE WHEN rn = n THEN doc_id END) AS BIGINT) AS last_doc, "
    "true AS all_ok FROM pos GROUP BY shard ORDER BY shard",
    tags=("io", "multimodal"),
)
def q_wd1(spark, sf_dir):
    # io.write_webdataset_shards → read_webdataset_shards round-trip:
    # ONE hash exchange on the key-derived shard, one tar per shard
    # written executor-side, pinned tar metadata; the reader gets one
    # input partition per tar. Census runs on the READ-BACK samples
    # (key stem = '{shuffle_key:010d}_{id}'), so export, manifest,
    # and reader are all on the attested path.
    import os
    import tempfile

    from pyspark.sql import Window

    from electrician_spark.io import (
        read_webdataset_shards,
        verify_webdataset_shards,
        write_webdataset_shards,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out_dir = os.path.join(tempfile.mkdtemp(prefix="q_wd1_"), "wds")
    write_webdataset_shards(docs, out_dir, n_shards=4, members={"txt": "text"}, seed=5)
    back = read_webdataset_shards(spark, out_dir, text_members=("txt",)).select(
        "shard",
        "key",
        F.split(F.col("key"), "_")[0].cast("long").alias("shuffle_key"),
        F.split(F.col("key"), "_")[1].cast("long").alias("doc_id"),
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    pos = back.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("shard"))
    )
    census = pos.groupBy("shard").agg(
        F.count("*").alias("samples"),
        F.sum("doc_id").alias("sum_ids"),
        F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("first_doc"),
        F.min(F.when(F.col("rn") == F.col("n"), F.col("doc_id"))).alias("last_doc"),
    )
    ok = verify_webdataset_shards(spark, out_dir).agg(
        F.bool_and("ok").alias("all_ok")
    )
    return (
        census.join(F.broadcast(ok))
        .select("shard", "samples", "sum_ids", "first_doc", "last_doc", "all_ok")
        .orderBy("shard")
    )


@query(
    "q_rb1_robots_gate",
    # RFC 9309 URL gate, closed-form: 10 hosts carry crafted policies
    # (even hosts: a trainbot group whose rules beat a deny-all '*'
    # group — attests agent-group selection; odd hosts: '*' only).
    # URL paths derive from doc_id, so every verdict is analytic:
    #   even host, shape 0 (/private/doc<k>): Allow /private/doc (12)
    #     beats Disallow /private/ (9) — longest match wins;
    #   even host, shape 3 (/page?sessionid=<k>): Disallow
    #     /*?sessionid= fires — rules match path+QUERY (RFC 9309);
    #   odd host, shape 2 (/tmp/x<k>): Disallow /tmp/* fires, EXCEPT
    #     path exactly '/tmp/x' (doc_id % 100 = 7: shape 7%5=2, odd host h=7) where Allow
    #     /tmp/x$ (7) out-lengths /tmp/* (6) — the '$' anchor;
    #   odd host, shape 4 (/search<k>): Disallow /search fires.
    # Everything else is unmatched → allowed with NULL pattern.
    "WITH f AS (SELECT doc_id, doc_id % 10 AS h, doc_id % 5 AS shape, "
    "doc_id % 100 = 7 AS exact_x FROM documents WHERE doc_id BETWEEN 1 AND 300), "
    "u AS (SELECT doc_id, h % 2 = 0 AS even, shape, exact_x, "
    "'http://h' || CAST(h AS VARCHAR) || '.example.com' || "
    "CASE shape WHEN 0 THEN '/private/doc' || CAST(doc_id AS VARCHAR) "
    "WHEN 1 THEN '/public/doc' || CAST(doc_id AS VARCHAR) "
    "WHEN 2 THEN CASE WHEN exact_x THEN '/tmp/x' ELSE '/tmp/x' || CAST(doc_id AS VARCHAR) END "
    "WHEN 3 THEN '/page?sessionid=' || CAST(doc_id AS VARCHAR) "
    "ELSE '/search' || CAST(doc_id AS VARCHAR) END AS url FROM f) "
    "SELECT doc_id, url, "
    "CASE WHEN even AND shape = 3 THEN false "
    "WHEN NOT even AND shape = 2 AND NOT exact_x THEN false "
    "WHEN NOT even AND shape = 4 THEN false "
    "ELSE true END AS allowed, "
    "CASE WHEN even AND shape = 0 THEN '/private/doc' "
    "WHEN even AND shape = 3 THEN '/*?sessionid=' "
    "WHEN NOT even AND shape = 2 AND exact_x THEN '/tmp/x$' "
    "WHEN NOT even AND shape = 2 THEN '/tmp/*' "
    "WHEN NOT even AND shape = 4 THEN '/search' "
    "ELSE NULL END AS matched_pattern "
    "FROM u ORDER BY doc_id",
    tags=("crawl",),
)
def q_rb1(spark, sf_dir):
    # operators/robots: parse → compiled-pattern rules (parse-time
    # regex, one Arrow stage over 10 host rows) → gate = host
    # equi-join + RLIKE + max_by longest-match/allow-tie. The corpus
    # side never shuffles; rules broadcast.
    from electrician_spark.operators import robots as rb

    even_body = (
        "User-agent: trainbot\n"
        "Disallow: /private/\n"
        "Allow: /private/doc\n"
        "Disallow: /*?sessionid=\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /\n"
    )
    odd_body = (
        "User-agent: *\n"
        "Disallow: /tmp/*\n"
        "Allow: /tmp/x$\n"
        "Disallow: /search\n"
    )
    hosts = spark.createDataFrame(
        [(f"h{i}.example.com", even_body if i % 2 == 0 else odd_body) for i in range(10)],
        "host string, body string",
    )
    rules = rb.robots_rules(rb.parse_robots(hosts))

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter((F.col("doc_id") >= 1) & (F.col("doc_id") <= 300))
    )
    d = F.col("doc_id")
    shape = d % 5
    path = (
        F.when(shape == 0, F.concat(F.lit("/private/doc"), d.cast("string")))
        .when(shape == 1, F.concat(F.lit("/public/doc"), d.cast("string")))
        .when(
            shape == 2,
            F.when(d % 100 == 7, F.lit("/tmp/x")).otherwise(
                F.concat(F.lit("/tmp/x"), d.cast("string"))
            ),
        )
        .when(shape == 3, F.concat(F.lit("/page?sessionid="), d.cast("string")))
        .otherwise(F.concat(F.lit("/search"), d.cast("string")))
    )
    urls = docs.withColumn(
        "url",
        F.concat(F.lit("http://h"), (d % 10).cast("string"), F.lit(".example.com"), path),
    )
    return (
        rb.robots_allowed(urls, rules, agent="trainbot")
        .select("doc_id", "url", "allowed", "matched_pattern")
        .orderBy("doc_id")
    )


@query(
    "q_pg1_pagerank",
    # Damped PageRank (Brin & Page 1998) on a graph derived from the
    # orders table; 3 power iterations replayed as chained CTEs — the
    # dangling-mass term included (dst-only nodes have no out-edges).
    "WITH e AS (SELECT o_custkey % 61 AS src, o_orderkey % 67 AS dst "
    "FROM orders WHERE o_orderkey <= 3000), "
    "nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e), "
    "deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src), "
    "r0 AS (SELECT node, 1.0 / (SELECT count(*) FROM nodes) AS rank FROM nodes), "
    + ", ".join(
        """r{o} AS (
          SELECT n.node,
            (1 - 0.85) / (SELECT count(*) FROM nodes)
            + 0.85 * (
                coalesce((SELECT sum(r.rank / dg.deg) FROM e
                          JOIN r{i} r ON r.node = e.src
                          JOIN deg dg ON dg.node = e.src
                          WHERE e.dst = n.node), 0)
                + (SELECT coalesce(sum(r.rank), 0) FROM r{i} r
                   WHERE r.node NOT IN (SELECT node FROM deg))
                  / (SELECT count(*) FROM nodes)
              ) AS rank
          FROM nodes n)""".format(o=i + 1, i=i)
        for i in range(3)
    )
    + " SELECT node, round(rank, 6) AS rank FROM r3 ORDER BY node",
    tags=("linkgraph",),
)
def q_pg1(spark, sf_dir):
    # operators/linkgraph.pagerank: one join+groupBy shuffle pair per
    # iteration, degree table joined once and localCheckpoint-ed,
    # per-round materialization pins constant-depth lineage (the
    # measured O(k²) fix, `git show 2aba643:tools/pagerank_probe.py`).
    from electrician_spark.operators import linkgraph as lg

    edges = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 3000)
        .select(
            (F.col("o_custkey") % 61).alias("src"),
            (F.col("o_orderkey") % 67).alias("dst"),
        )
    )
    return lg.pagerank(edges, iterations=3).orderBy("node")


@query(
    "q_bl1_bloom_decontaminate",
    # Bloom-prefiltered decontamination must EQUAL the exact operator
    # (false positives die in the verify stage): the oracle is the
    # plain containment SQL with no bloom anywhere — docs with
    # id % 10 = 1 play the held-out set; full score table (zero-hit
    # rows included) so the prefilter can't hide misses.
    f"WITH {_SQL_SHINGLES_CTE}, "
    "tsh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 1), "
    "csh AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 <> 1), "
    "sz AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY doc_id), "
    "hits AS (SELECT doc_id, count(*) AS h FROM csh JOIN tsh USING (s) "
    "GROUP BY doc_id) "
    "SELECT sz.doc_id, sz.n AS n_shingles, coalesce(h, 0) AS n_hits, "
    "round(coalesce(h, 0) * 1.0 / sz.n, 6) AS containment "
    "FROM sz LEFT JOIN hits ON hits.doc_id = sz.doc_id ORDER BY sz.doc_id",
    tags=("dedup",),
)
def q_bl1(spark, sf_dir):
    # operators/bloom.contamination_scores_bloom: 63-bit-word Bloom
    # built from the test-set shingles (bounded word table), k=4
    # broadcast-join probes (the corpus never shuffles), candidates
    # exact-verified — the big key set is never broadcast raw.
    from electrician_spark.operators import bloom

    docs = _t(spark, sf_dir, "documents")
    testset = docs.filter(F.col("doc_id") % 10 == 1)
    corpus = docs.filter(F.col("doc_id") % 10 != 1)
    return (
        bloom.contamination_scores_bloom(corpus, testset, m_bits=1 << 18, k=4)
        .select(
            "doc_id",
            "n_shingles",
            "n_hits",
            F.round("containment", 6).alias("containment"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_sc1_span_corrupt",
    # T5 span corruption (Raffel 2020 §3.3.4), value-replayed: span
    # starts/lengths are md5(seed:id:pos:tag) draws (the proven
    # conv/substr identity), overlaps merge, sentinels renumber in
    # first-occurrence order. The oracle rebuilds input/target/counts
    # from the same hashes with window functions — no UDF anywhere on
    # the DuckDB side.
    "WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks "
    "FROM documents WHERE doc_id BETWEEN 1 AND 250), "
    "pos AS (SELECT doc_id, unnest(range(len(toks))) AS i, "
    "toks[CAST(unnest(range(len(toks))) AS INTEGER) + 1] AS tok FROM t), "
    "st AS (SELECT doc_id, i AS s, 1 + CAST('0x' || substr(md5(concat_ws(':', '13', "
    "CAST(doc_id AS VARCHAR), CAST(i AS VARCHAR), 'l')), 1, 8) AS BIGINT) % 5 AS ln "
    "FROM pos WHERE CAST('0x' || substr(md5(concat_ws(':', '13', "
    "CAST(doc_id AS VARCHAR), CAST(i AS VARCHAR), 's')), 1, 8) AS BIGINT) < "
    f"{int(0.15 / 3 * (1 << 32))}), "
    "m AS (SELECT p.doc_id, p.i, p.tok, EXISTS (SELECT 1 FROM st "
    "WHERE st.doc_id = p.doc_id AND st.s <= p.i AND p.i < st.s + st.ln) AS mk FROM pos p), "
    "w AS (SELECT doc_id, i, tok, mk, mk AND NOT coalesce(lag(mk) OVER "
    "(PARTITION BY doc_id ORDER BY i), false) AS bg FROM m), "
    "k AS (SELECT doc_id, i, tok, mk, bg, sum(CASE WHEN bg THEN 1 ELSE 0 END) "
    "OVER (PARTITION BY doc_id ORDER BY i) - 1 AS kk FROM w), "
    "agg AS (SELECT doc_id, "
    "string_agg(CASE WHEN NOT mk THEN tok WHEN bg THEN "
    "'<extra_id_' || CAST(kk AS VARCHAR) || '>' END, ' ' ORDER BY i) "
    "FILTER (NOT mk OR bg) AS input_text, "
    "string_agg(CASE WHEN bg THEN '<extra_id_' || CAST(kk AS VARCHAR) || '> ' || tok "
    "WHEN mk THEN tok END, ' ' ORDER BY i) FILTER (mk) AS tgt_body, "
    "CAST(sum(CASE WHEN bg THEN 1 ELSE 0 END) AS INTEGER) AS n_spans, "
    "CAST(sum(CASE WHEN mk THEN 1 ELSE 0 END) AS INTEGER) AS n_masked "
    "FROM k GROUP BY doc_id) "
    "SELECT t.doc_id, coalesce(agg.input_text, '') AS input_text, "
    "CASE WHEN coalesce(n_spans, 0) > 0 THEN tgt_body || ' <extra_id_' || "
    "CAST(n_spans AS VARCHAR) || '>' ELSE '' END AS target_text, "
    "coalesce(n_spans, 0) AS n_spans, coalesce(n_masked, 0) AS n_masked "
    "FROM t LEFT JOIN agg USING (doc_id) ORDER BY t.doc_id",
    tags=("objectives",),
)
def q_sc1(spark, sf_dir):
    # objectives.span_corrupt: Arrow-batched pandas UDF (the sanctioned
    # shape for data-dependent sequential token rewrites — the measured
    # 50x win over interpreted HOF probes), zero shuffle, one
    # projection riding the corpus scan.
    from electrician_spark.operators import objectives

    docs = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") >= 1) & (F.col("doc_id") <= 250)
    )
    return (
        objectives.span_corrupt(docs, seed=13)
        .select("doc_id", "input_text", "target_text", "n_spans", "n_masked")
        .orderBy("doc_id")
    )


def _incremental_oracle() -> str:
    """Full SQL replay of incremental_dedup: index = doc_id % 3 <> 0,
    batch = doc_id % 3 = 0 (bounded). Minhash/bands/fingerprint reuse
    the proven q_d3/q_d1 constructions; exact beats near; near match =
    minimum candidate index id with component-match estimate ≥ 0.5."""
    sig_cols = ", ".join(f"min(md5('{i}:' || s)) AS h{i}" for i in range(16))
    band_sel = []
    for b in range(4):
        parts = " || '|' || ".join(f"h{b * 4 + r}" for r in range(4))
        band_sel.append(f"SELECT doc_id, {b} AS band, md5({parts}) AS bh FROM sig")
    bands_sql = " UNION ALL ".join(band_sel)
    est = " + ".join(
        f"CASE WHEN bs.h{i} = isg.h{i} THEN 1 ELSE 0 END" for i in range(16)
    )
    return (
        "WITH t AS (SELECT doc_id, "
        + _SQL_TOKENS
        + " AS ws FROM documents WHERE doc_id <= 900), "
        "fp AS (SELECT doc_id, md5(lower(array_to_string(ws, ' '))) AS fp FROM t), "
        "idx AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM t), "
        "sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM idx), "
        f"sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id), "
        f"bands AS ({bands_sql}), "
        "bfp AS (SELECT * FROM fp WHERE doc_id % 3 = 0), "
        "ifp AS (SELECT * FROM fp WHERE doc_id % 3 <> 0), "
        "x AS (SELECT b.doc_id, min(i.doc_id) AS x_id FROM bfp b "
        "JOIN ifp i ON i.fp = b.fp GROUP BY b.doc_id), "
        "bb AS (SELECT * FROM bands WHERE doc_id % 3 = 0), "
        "ib AS (SELECT * FROM bands WHERE doc_id % 3 <> 0), "
        "cand AS (SELECT DISTINCT bb.doc_id AS b_id, ib.doc_id AS i_id "
        "FROM bb JOIN ib ON bb.band = ib.band AND bb.bh = ib.bh), "
        f"scored AS (SELECT c.b_id, c.i_id, ({est}) / 16.0 AS est "
        "FROM cand c JOIN sig bs ON bs.doc_id = c.b_id "
        "JOIN sig isg ON isg.doc_id = c.i_id), "
        "nr AS (SELECT b_id, min(i_id) AS n_id FROM scored WHERE est >= 0.5 GROUP BY b_id), "
        "nre AS (SELECT nr.b_id, nr.n_id, s.est FROM nr JOIN scored s "
        "ON s.b_id = nr.b_id AND s.i_id = nr.n_id) "
        "SELECT b.doc_id, b.fp, "
        "CASE WHEN x.x_id IS NOT NULL THEN 'exact' "
        "WHEN nre.n_id IS NOT NULL THEN 'near' END AS dup_kind, "
        "coalesce(x.x_id, nre.n_id) AS matched_id, "
        "CASE WHEN x.x_id IS NULL THEN CAST(round(nre.est, 6) AS VARCHAR) END AS est_jaccard "
        "FROM bfp b LEFT JOIN x ON x.doc_id = b.doc_id "
        "LEFT JOIN nre ON nre.b_id = b.doc_id ORDER BY b.doc_id"
    )


@query("q_id1_incremental_dedup", _incremental_oracle(), tags=("dedup",))
def q_id1(spark, sf_dir):
    # operators/incremental.incremental_dedup: the index is scanned
    # (exact probe, band probe, candidate signature fetch) and
    # shuffled NEVER; every join is broadcast batch-side — the
    # batch-vs-history posture that holds when the index is 10^10
    # rows and the micro-batch is 10^5.
    from electrician_spark.operators import incremental

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 900)
    index = incremental.build_dedup_index(docs.filter(F.col("doc_id") % 3 != 0))
    # The operator's contract reads the index as a PERSISTED table
    # (scanned by three probes, shuffled never). Here the index is
    # derived in-query, so materialize it once — without this the
    # three probes each re-run the scan→shingle→16-md5-min build
    # pipeline (2.55→2.25 s median at sf0.1, interleaved).
    # The operator itself must NOT checkpoint: a real 10^10-row
    # stored index is already materialized storage (guide §5).
    index = index.localCheckpoint()
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    return (
        incremental.incremental_dedup(batch, index)
        .select("doc_id", "fp", "dup_kind", "matched_id", "est_jaccard")
        .orderBy("doc_id")
    )


@query(
    "q_rs1_resequence_stateful",
    # Ordered delivery through the REAL stateful streaming path
    # (applyInPandasWithState), batch-equivalence attested: events
    # arrive as three micro-batches — seq-odds first, then seq-evens,
    # then a full duplicate replay — so every key buffers gaps across
    # batches, releases contiguous runs, and stale-drops the replay.
    # The oracle is the window-function order the stream must converge
    # to: exactly one delivery per (key, seq), payloads intact.
    "WITH e AS (SELECT event_id, CAST(event_id % 7 AS VARCHAR) AS key "
    "FROM events WHERE event_id < 500), "
    "s AS (SELECT key, event_id, row_number() OVER "
    "(PARTITION BY key ORDER BY event_id) AS seq FROM e) "
    "SELECT key, seq, 'p' || CAST(event_id AS VARCHAR) AS payload "
    "FROM s ORDER BY key, seq",
    tags=("streaming", "stateful"),
)
def q_rs1(spark, sf_dir):
    # streaming/stateful.resequence over three arrival waves, one
    # micro-batch each. State is (next_seq, gap buffer) per key —
    # bounded by in-flight gaps, not by stream length.
    from pyspark.sql import Window

    from electrician_spark.streaming import stateful
    from electrician_spark.streaming.sources import arrival_waves

    events = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 500)
        .select("event_id", (F.col("event_id") % 7).cast("string").alias("key"))
    )
    w = Window.partitionBy("key").orderBy("event_id")
    rows = events.select(
        "key",
        F.row_number().over(w).cast("long").alias("seq"),
        F.concat(F.lit("p"), F.col("event_id").cast("string")).alias("payload"),
    )
    # odds (gaps everywhere), evens (gaps close), full duplicate replay
    # (every row stale-dropped)
    waves = [rows.filter(F.col("seq") % 2 == 1), rows.filter(F.col("seq") % 2 == 0), rows]
    delivered = _memory_run(
        spark,
        "q_rs1_",
        lambda src: stateful.resequence(arrival_waves(spark, src, waves), "key", "seq", "payload"),
    )
    return delivered.select("key", "seq", "payload").orderBy("key", "seq")


# WordPiece: the training mini-corpus is a LITERAL (sf-independent), so
# the trained vocabulary is known at oracle-authoring time and FROZEN
# into the SQL below — if the trainer, the JSON artifact round-trip, or
# the greedy encoder drifts by one piece, the value hash breaks. The
# oracle replays greedy longest-match-first segmentation per distinct
# word with a recursive CTE (correlated max-length probe into the vocab
# at each cursor position; BERT whole-word-[UNK] on a dead end), then
# joins back to per-document word multiplicity.
_WP_MINI_CORPUS = (
    "the table scans fast and the sort spills slow",
    "a hash join beats a merge join on small tables",
    "stream batch window group filter value row line",
    "spark data column vector part customer order big agg",
)
# train_wordpiece_vocab(_WP_MINI_CORPUS, vocab_size=70, min_count=1) —
# 56 pieces (likelihood scoring exhausts below the cap). The corpus
# deliberately contains no 'y', so 'key'/'query' in documents exercise
# the whole-word-[UNK] rule live (not vacuously).
_WP_FROZEN_VOCAB = [
    "[UNK]", "##a", "##as", "##at", "##b", "##bl", "##ble", "##c", "##d",
    "##e", "##er", "##g", "##h", "##i", "##il", "##k", "##l", "##lu",
    "##m", "##n", "##nd", "##o", "##ow", "##p", "##r", "##rt", "##s",
    "##t", "##to", "##u", "##w", "a", "b", "c", "d", "f", "g", "h", "j",
    "jo", "joi", "join", "l", "m", "o", "p", "r", "s", "sp", "t", "ta",
    "table", "th", "the", "v", "w",
]
_WP_VOCAB_SQL = ", ".join(f"('{p}')" for p in _WP_FROZEN_VOCAB)


@query(
    "q_wp1_wordpiece_encode",
    "WITH RECURSIVE "
    f"vocab(piece) AS (VALUES {_WP_VOCAB_SQL}), "
    "vp AS (SELECT CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END AS raw, "
    "piece LIKE '##%' AS cont FROM vocab WHERE piece <> '[UNK]'), "
    "dw AS (SELECT doc_id, w AS word FROM (SELECT doc_id, "
    "unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents) "
    "WHERE length(w) > 0), "
    "words AS (SELECT DISTINCT word FROM dw), "
    "seg AS ("
    "SELECT word, 0 AS pos, 0 AS n_pieces, 0 AS n_cont, false AS unk FROM words "
    "UNION ALL "
    "SELECT word, "
    "CASE WHEN best_len IS NULL THEN length(word) ELSE pos + best_len END AS pos, "
    "CASE WHEN best_len IS NULL THEN 1 ELSE n_pieces + 1 END AS n_pieces, "
    "CASE WHEN best_len IS NULL THEN 0 "
    "WHEN pos > 0 THEN n_cont + 1 ELSE n_cont END AS n_cont, "
    "best_len IS NULL AS unk "
    "FROM (SELECT word, pos, n_pieces, n_cont, "
    "(SELECT max(length(v.raw)) FROM vp v WHERE v.cont = (s.pos > 0) "
    "AND v.raw = substr(s.word, s.pos + 1, length(v.raw))) AS best_len "
    "FROM seg s WHERE s.pos < length(s.word) AND NOT s.unk)), "
    "fin AS (SELECT word, n_pieces, n_cont, unk FROM seg "
    "WHERE pos = length(word) AND pos > 0) "
    "SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words, "
    "CAST(sum(f.n_pieces) AS BIGINT) AS n_pieces, "
    "CAST(sum(CASE WHEN f.unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk, "
    "CAST(sum(f.n_cont) AS BIGINT) AS n_cont "
    "FROM dw JOIN fin f USING (word) GROUP BY dw.doc_id ORDER BY dw.doc_id",
    tags=("tokenizer",),
)
def q_wp1(spark, sf_dir):
    # train -> save -> load -> encode, all on the attested path: the
    # trainer runs live on the literal mini-corpus, the artifact
    # round-trips through tokenizer.save_tokenizer/load_tokenizer, and
    # the reloaded vocab drives wordpiece_encode over the corpus. Any
    # drift from the frozen oracle vocabulary breaks the row.
    # Reference: Schuster & Nakajima 2012 (WordPiece), the BERT
    # greedy longest-match + whole-word-[UNK] convention.
    from electrician_spark.functions import tokenizer as tk

    mini = spark.createDataFrame([(t,) for t in _WP_MINI_CORPUS], "text string")
    vocab = tk.train_wordpiece_vocab(mini, vocab_size=70, min_count=1)
    _kind, vocab2 = _round_trip(
        lambda p: tk.save_tokenizer(p, "wordpiece", vocab), tk.load_tokenizer, "wp.json"
    )
    return _wp1_encode(spark, sf_dir, vocab2)


def _wp1_encode(spark, sf_dir, vocab2):
    """q_wp1's encode/census chain given a loaded vocabulary — shared
    by the live-training correctness row and the frozen-artifact bench
    variant (identical plan from here down; the q_ug1 pattern)."""
    from electrician_spark.functions import tokenizer as tk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    enc = tk.wordpiece_encode(docs, vocab2)
    pieces = F.col("pieces")
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda x: F.length(x) > 0)
    return (
        enc.select(
            "doc_id",
            F.size(words).cast("long").alias("n_words"),
            F.size(pieces).cast("long").alias("n_pieces"),
            F.size(F.filter(pieces, lambda x: x == F.lit("[UNK]")))
            .cast("long")
            .alias("n_unk"),
            F.size(F.filter(pieces, lambda x: x.startswith("##")))
            .cast("long")
            .alias("n_cont"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_or1_orc_roundtrip",
    "SELECT l_linestatus, count(*) AS n, "
    "round(sum(l_quantity), 2) AS sum_qty, "
    "round(sum(l_extendedprice), 2) AS sum_price "
    "FROM lineitem WHERE l_returnflag = 'R' "
    "GROUP BY l_linestatus ORDER BY l_linestatus",
    tags=("sink", "io"),
)
def q_or1(spark, sf_dir):
    # io.write_orc (zstd, hive-partitioned by l_returnflag) -> read_orc
    # -> filtered per-partition aggregate equality: the q_k1 round-trip
    # shape on the SECOND columnar format. The read-back filter on the
    # partition column prunes to one directory (plan-pinned in
    # test_io); the aggregation never sees the other partitions.
    import tempfile

    from electrician_spark.io import read_orc, write_orc

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"
    )
    path = tempfile.mkdtemp(prefix="q_or1_") + "/lineitem_orc"
    write_orc(li, path, partition_by=["l_returnflag"])
    back = read_orc(spark, path)
    return (
        back.filter(F.col("l_returnflag") == "R")
        .groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n"),
            rel.round2(F.sum("l_quantity")).alias("sum_qty"),
            rel.round2(F.sum("l_extendedprice")).alias("sum_price"),
        )
        .orderBy("l_linestatus")
    )


_SQL_MD5_KEY = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"


@query(
    "q_lb1_length_batches",
    # Window-SQL replay of the length-grouped batcher: md5-derived
    # shard, (length DESC, epoch key, id) order within shard, fixed
    # 16-slot batches, then the per-batch padding audit.
    f"WITH k AS (SELECT doc_id, n_chars, {_SQL_MD5_KEY} % 8 AS shard, "
    + _SQL_EPOCH_KEY.format(seed=3)
    + " AS key FROM documents), "
    "p AS (SELECT shard, n_chars, row_number() OVER (PARTITION BY shard "
    "ORDER BY n_chars DESC, key ASC, doc_id ASC) - 1 AS rn FROM k), "
    "b AS (SELECT shard, rn // 16 AS batch_id, n_chars FROM p) "
    "SELECT shard, batch_id, CAST(count(*) AS BIGINT) AS n, "
    "max(n_chars) AS max_len, CAST(sum(n_chars) AS BIGINT) AS sum_len, "
    "round(1.0 - CAST(sum(n_chars) AS DOUBLE) / (count(*) * max(n_chars)), 6) "
    "AS pad_frac "
    "FROM b GROUP BY shard, batch_id ORDER BY shard, batch_id",
    tags=("packing",),
)
def q_lb1(spark, sf_dir):
    # operators/packing.length_batches: one hash exchange on the
    # md5-shard, per-shard window sort into fixed-size batches (the
    # 'sortish' length-grouped sampler), then length_batch_stats'
    # map-side-combined padding audit. Low pad_frac vs random batching
    # is the property test; the oracle pins the exact assignment.
    from electrician_spark.operators import packing

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    batched = packing.length_batches(
        docs, batch_size=16, len_col="n_chars", n_shards=8, seed=3
    )
    return (
        packing.length_batch_stats(batched, "n_chars")
        .select("shard", "batch_id", "n", "max_len", "sum_len", "pad_frac")
        .orderBy("shard", "batch_id")
    )


@query(
    "q_cm1_count_min",
    # Count-Min frequency estimates replayed cell-by-cell: the sketch
    # is the (row, col, cnt) table with col = md5(row:key) % width —
    # the engine-portable md5 identity — and the estimate is the min
    # over depth probes with misses coalesced to 0. true_count joins
    # back so the one-sided guarantee (est >= true, = when sparse) is
    # visible IN the attested values, not just asserted in tests.
    "WITH src AS (SELECT 'k' || CAST(o_custkey % 211 AS VARCHAR) AS key FROM orders), "
    "cells AS (SELECT r, CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || key), 1, 8) "
    "AS BIGINT) % 256 AS col, count(*) AS cnt "
    "FROM src, (VALUES (0), (1), (2)) t(r) GROUP BY 1, 2), "
    "probes AS (SELECT 'k' || CAST(doc_id AS VARCHAR) AS key FROM documents WHERE doc_id < 220), "
    "pc AS (SELECT p.key, t.r, CAST('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || p.key), 1, 8) "
    "AS BIGINT) % 256 AS col FROM probes p, (VALUES (0), (1), (2)) t(r)), "
    "est AS (SELECT pc.key, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est_count "
    "FROM pc LEFT JOIN cells c ON c.r = pc.r AND c.col = pc.col GROUP BY pc.key), "
    "tru AS (SELECT key, count(*) AS n FROM src GROUP BY key) "
    "SELECT e.key, e.est_count, CAST(coalesce(t.n, 0) AS BIGINT) AS true_count "
    "FROM est e LEFT JOIN tru t ON t.key = e.key ORDER BY e.key",
    tags=("sketch",),
)
def q_cm1(spark, sf_dir):
    # operators/sketch.count_min_*: one linear scan builds the bounded
    # <= depth*width cell table (map-side-combined), probes broadcast-
    # join it (keys never shuffle); geometry travels stamped on the
    # sketch, validated at estimate time. Cormode & Muthukrishnan 2005.
    from electrician_spark.operators import sketch as sk

    src = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("k"), (F.col("o_custkey") % 211).cast("string")).alias("key")
    )
    cm = sk.count_min_build(src, "key", width=256, depth=3)
    probes = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 220).select(
        F.concat(F.lit("k"), F.col("doc_id").cast("string")).alias("key")
    )
    est = sk.count_min_estimate(probes, cm, "key")
    tru = src.groupBy("key").agg(F.count("*").alias("n"))
    return (
        est.join(tru, "key", "left")
        .select(
            "key",
            "est_count",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("true_count"),
        )
        .orderBy("key")
    )


# Sign-bit encoding replay: bit j of the 64-d embedding's single code
# word is set iff embedding[j] > 0, with bit 63 carried as the two's-
# complement sign term (the repo-wide signed-BIGINT convention). The
# positive terms accumulate to at most 2^63-1 before the bit-63 term
# (kept LAST) lands, so the fold never overflows checked BIGINT math.
_SQL_SIGNBIT = "(" + " + ".join(
    f"CASE WHEN embedding[{j + 1}] > 0 THEN "
    + ("(-9223372036854775807 - 1)" if j == 63 else str(1 << j))
    + " ELSE 0 END"
    for j in range(64)
) + ")"


@query(
    "q_bq1_binary_hamming_tier",
    # The full binary-quantization ANN tier: sign-bit encode both
    # sides, Hamming (XOR/popcount) prefilter to 4k candidates, exact
    # cosine re-rank of the survivors to top-k — replayed stage by
    # stage (same encode fold, same bit_count(xor()), same rounded
    # cosine and tie-break) so prefilter membership AND final ranking
    # are both value-attested.
    f"WITH b AS (SELECT vec_id, {_SQL_SIGNBIT} AS code FROM embeddings), "
    "q AS (SELECT vec_id AS query_id, code AS qc FROM b WHERE vec_id < 8), "
    "scored AS (SELECT query_id, c.vec_id AS neighbor_id, "
    "bit_count(xor(c.code, qc)) AS ham FROM q JOIN b c ON c.vec_id <> query_id), "
    "cand AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, "
    "row_number() OVER (PARTITION BY query_id ORDER BY ham, neighbor_id) AS rk "
    "FROM scored) WHERE rk <= 20), "
    f"{_SQL_NORM_CTE}, "
    "qv AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM norms WHERE vec_id < 8), "
    "rr AS (SELECT cand.query_id, cand.neighbor_id, "
    f"round({_SQL_DOT.format(a='qe', b='c.embedding')} / (qn * c.nrm), 4) AS cos "
    "FROM cand JOIN norms c ON c.vec_id = cand.neighbor_id "
    "JOIN qv ON qv.query_id = cand.query_id), "
    "ranked AS (SELECT query_id, neighbor_id, cos, row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM rr) "
    "SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 5 "
    "ORDER BY query_id, rank",
    tags=("similarity", "quantize"),
)
def q_bq1(spark, sf_dir):
    # operators/quantize.hamming_rerank_topk: binary_quantize is one
    # codegen'd integer projection riding the scan (32x memory vs
    # float32); the prefilter scores ~100x cheaper per pair than a
    # float dot (1 XOR + popcount for d=64); the exact cosine runs on
    # 4k candidate rows per query only, fetched by broadcast join —
    # the corpus never shuffles at any stage.
    from electrician_spark.operators import quantize as qz

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = qz.hamming_rerank_topk(
        emb, emb.filter(F.col("vec_id") < 8), d=64, k=5, prefilter_factor=4
    )
    return out.withColumn("rank", F.col("rank").cast("long")).orderBy(
        "query_id", "rank"
    )


@query(
    "q_cml1_chatml_render",
    # ChatML SFT rendering with loss-mask spans, attested two ways at
    # once: Spark computes spans with the linear fold in
    # objectives.render_chat, the oracle computes the same offsets
    # ANALYTICALLY from the fixed frame widths (im_start+role+NL, the
    # 14-char system turn, im_end+NL) — so the fold's cursor arithmetic
    # is checked against independent closed-form math, per document,
    # including the substring extraction of the last masked turn.
    "WITH m AS (SELECT doc_id, substr(text, 1, 40) AS u1, substr(text, 41, 40) AS a1, "
    "substr(text, 81, 30) AS u2, substr(text, 111, 30) AS a2, n_chars > 120 AS big "
    "FROM documents WHERE doc_id < 300), "
    "r AS (SELECT doc_id, big, u1, a1, u2, a2, "
    "'<|im_start|>system' || chr(10) || 'You are terse.<|im_end|>' || chr(10) || "
    "'<|im_start|>user' || chr(10) || u1 || '<|im_end|>' || chr(10) || "
    "'<|im_start|>assistant' || chr(10) || a1 || '<|im_end|>' || chr(10) || "
    "CASE WHEN big THEN "
    "'<|im_start|>user' || chr(10) || u2 || '<|im_end|>' || chr(10) || "
    "'<|im_start|>assistant' || chr(10) || a2 || '<|im_end|>' || chr(10) "
    "ELSE '' END AS chat_text FROM m), "
    "s AS (SELECT doc_id, chat_text, "
    "CASE WHEN big THEN 5 ELSE 3 END AS n_turns, "
    "CASE WHEN big THEN 2 ELSE 1 END AS n_loss_turns, "
    "CASE WHEN big THEN 94 + length(u1) + length(a1) + 11 + 50 + length(u2) "
    "ELSE 94 + length(u1) END AS s_last, "
    "CASE WHEN big THEN length(a2) ELSE length(a1) END AS last_len FROM r) "
    "SELECT doc_id, chat_text, CAST(n_turns AS INTEGER) AS n_turns, "
    "CAST(n_loss_turns AS INTEGER) AS n_loss_turns, "
    "CAST(s_last AS INTEGER) AS span_start, "
    "CAST(s_last + last_len AS INTEGER) AS span_end, "
    "substr(chat_text, s_last + 1, last_len) AS span_text "
    "FROM s ORDER BY doc_id",
    tags=("objectives",),
)
def q_cml1(spark, sf_dir):
    # operators/objectives.render_chat: one aggregate fold per row
    # (linear, no shuffle); conversations derived from documents by
    # pure Column expressions so both engines see identical turns.
    from electrician_spark.operators import objectives as obj

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    turn = lambda role, content: F.struct(  # noqa: E731
        F.lit(role).alias("role"), content.alias("content")
    )
    t = F.col("text")
    msgs3 = F.array(
        turn("system", F.lit("You are terse.")),
        turn("user", F.substring(t, 1, 40)),
        turn("assistant", F.substring(t, 41, 40)),
    )
    msgs5 = F.concat(
        msgs3,
        F.array(
            turn("user", F.substring(t, 81, 30)),
            turn("assistant", F.substring(t, 111, 30)),
        ),
    )
    conv = docs.select(
        "doc_id",
        F.when(F.col("n_chars") > 120, msgs5).otherwise(msgs3).alias("messages"),
    )
    rendered = obj.render_chat(conv)
    last = F.element_at(F.col("loss_spans"), -1)
    return rendered.select(
        "doc_id",
        "chat_text",
        F.col("n_turns").cast("int").alias("n_turns"),
        F.col("n_loss_turns").cast("int").alias("n_loss_turns"),
        last["start"].alias("span_start"),
        last["end"].alias("span_end"),
        F.expr(
            "substring(chat_text, element_at(loss_spans, -1).start + 1, "
            "element_at(loss_spans, -1).end - element_at(loss_spans, -1).start)"
        ).alias("span_text"),
    ).orderBy("doc_id")


@query(
    "q_pp1_preference_pairs",
    # Best-vs-worst preference pairing with the deterministic
    # (score, response) struct order: chosen = lexicographic max,
    # rejected = lexicographic min, margin-gated; replayed with two
    # opposite-direction row_number windows over the same ordering.
    "WITH c AS (SELECT 'p' || CAST(o_custkey % 40 AS VARCHAR) AS prompt, "
    "'r' || CAST(o_orderkey % 1000 AS VARCHAR) AS response, "
    "CAST(o_orderkey % 13 AS DOUBLE) / 4 AS score FROM orders), "
    "w AS (SELECT prompt, response, score, "
    "row_number() OVER (PARTITION BY prompt ORDER BY score DESC, response DESC) AS rd, "
    "row_number() OVER (PARTITION BY prompt ORDER BY score ASC, response ASC) AS ra FROM c), "
    "agg AS (SELECT prompt, max(CASE WHEN rd = 1 THEN response END) AS chosen, "
    "max(CASE WHEN ra = 1 THEN response END) AS rejected, "
    "max(score) AS score_chosen, min(score) AS score_rejected, "
    "round(max(score) - min(score), 6) AS margin FROM w GROUP BY prompt) "
    "SELECT prompt, chosen, rejected, score_chosen, score_rejected, margin "
    "FROM agg WHERE chosen <> rejected AND margin >= 0.5 ORDER BY prompt",
    tags=("objectives",),
)
def q_pp1(spark, sf_dir):
    # operators/objectives.preference_pairs: ONE map-side-combinable
    # groupBy (max_by/min_by partial-aggregate before the shuffle — a
    # prompt with 10^4 candidates ships one row per input partition).
    from electrician_spark.operators import objectives as obj

    cands = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("p"), (F.col("o_custkey") % 40).cast("string")).alias("prompt"),
        F.concat(F.lit("r"), (F.col("o_orderkey") % 1000).cast("string")).alias(
            "response"
        ),
        (F.col("o_orderkey") % 13).cast("double").alias("_s4"),
    ).withColumn("score", F.col("_s4") / 4).drop("_s4")
    return (
        obj.preference_pairs(cands, min_margin=0.5)
        .select(
            "prompt", "chosen", "rejected", "score_chosen", "score_rejected", "margin"
        )
        .orderBy("prompt")
    )


# Token-bucket replay: every quantity is a dyadic rational (times are
# event_id/4, refill adds (dt)/2, admission costs exactly 1.0, the cap
# is 5.0), so the float arithmetic is EXACT in both engines and the
# admit/divert decisions cannot drift on rounding. The recursion steps
# one row per key in arrival order = (wave, t): wave 2 replays earlier
# times than wave 1's high-water mark, exercising the no-refill
# (t <= last_t) charge path across a batch boundary.
_SQL_RL_REFILL = (
    "CASE WHEN s.last_t IS NOT NULL AND r.t > s.last_t "
    "THEN least(5.0, s.tokens + (r.t - s.last_t) * 0.5) ELSE s.tokens END"
)


@query(
    "q_rl1_rate_limit_stateful",
    "WITH RECURSIVE e AS (SELECT CAST(event_id % 3 AS VARCHAR) AS key, "
    "CAST(event_id AS DOUBLE) * 0.25 AS t, "
    "'p' || CAST(event_id AS VARCHAR) AS payload, "
    "CASE WHEN event_id % 2 = 1 THEN 1 ELSE 2 END AS wave "
    "FROM events WHERE event_id < 420), "
    "r AS (SELECT key, t, payload, row_number() OVER "
    "(PARTITION BY key ORDER BY wave, t) AS rn FROM e), "
    "st AS ("
    "SELECT key, CAST(0 AS BIGINT) AS rn, CAST(5.0 AS DOUBLE) AS tokens, "
    "CAST(NULL AS DOUBLE) AS last_t, CAST(NULL AS DOUBLE) AS t, "
    "CAST(NULL AS VARCHAR) AS payload, CAST(NULL AS VARCHAR) AS admitted "
    "FROM (SELECT DISTINCT key FROM r) "
    "UNION ALL "
    f"SELECT r.key, r.rn, "
    f"CASE WHEN {_SQL_RL_REFILL} >= 1.0 THEN {_SQL_RL_REFILL} - 1.0 "
    f"ELSE {_SQL_RL_REFILL} END AS tokens, "
    "CASE WHEN s.last_t IS NULL THEN r.t ELSE greatest(s.last_t, r.t) END AS last_t, "
    "r.t, r.payload, "
    f"CASE WHEN {_SQL_RL_REFILL} >= 1.0 THEN 'admit' ELSE 'divert' END AS admitted "
    "FROM st s JOIN r ON r.key = s.key AND r.rn = s.rn + 1) "
    "SELECT key, t AS event_time_s, payload, admitted FROM st WHERE rn > 0 "
    "ORDER BY key, event_time_s",
    tags=("streaming", "stateful"),
)
def q_rl1(spark, sf_dir):
    # streaming/stateful.rate_limit over two arrival waves, one
    # micro-batch each, so per-key bucket state persists across the
    # batch boundary; rejected records are MARKED divert, never dropped
    # (the surge-protector divert-to-backup contract, reference
    # surgeprotector/rate_limit.go:49-76 semantics).
    from electrician_spark.streaming import stateful
    from electrician_spark.streaming.sources import arrival_waves

    rows = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 420)
        .select(
            (F.col("event_id") % 3).cast("string").alias("key"),
            (F.col("event_id").cast("double") * 0.25).alias("event_time_s"),
            F.concat(F.lit("p"), F.col("event_id").cast("string")).alias("payload"),
            (F.col("event_id") % 2).alias("par"),
        )
    )
    waves = [rows.filter(F.col("par") == p).drop("par") for p in (1, 0)]
    gated = _memory_run(
        spark,
        "q_rl1_",
        lambda src: stateful.rate_limit(
            arrival_waves(spark, src, waves), capacity=5.0, refill_per_sec=0.5
        ),
    )
    return gated.select("key", "event_time_s", "payload", "admitted").orderBy(
        "key", "event_time_s"
    )


@query(
    "q_wc1_warc_census",
    # WARC record census via the native DSv2 source, fixture-replayed:
    # archives are synthesized from documents (record type, target
    # URI, and payload all closed-form in doc_id/text), scanned with
    # metaOnly=true (payloads never materialize — the census posture),
    # and the per-type census must equal the analytic replay, INCLUDING
    # the doc ids parsed back out of WARC-Target-URI.
    "WITH f AS (SELECT doc_id, length(text) AS len, "
    "CASE WHEN doc_id % 10 = 0 THEN 'warcinfo' "
    "WHEN doc_id % 3 = 0 THEN 'request' ELSE 'response' END AS wtype "
    "FROM documents WHERE doc_id < 400) "
    "SELECT wtype AS warc_type, CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(len) AS BIGINT) AS total_bytes, "
    "CAST(sum(doc_id) AS BIGINT) AS sum_ids "
    "FROM f GROUP BY wtype ORDER BY wtype",
    tags=("crawl", "io"),
)
def q_wc1(spark, sf_dir):
    # warc_datasource.WarcDataSource: one InputPartition per archive
    # file; ISO 28500 / WARC 1.0 framing (CRLF headers, Content-Length
    # payload, CRLF CRLF terminator); file 3 uses the Common Crawl
    # layout (one gzip member per record, concatenated) so both
    # container paths are on the attested row. metaOnly skips payload
    # materialization; content_length still comes from the header the
    # parser read.
    import gzip
    import os
    import tempfile

    from electrician_spark import warc_datasource as wd

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .toPandas()
    )

    def record(wtype: str, doc_id: int, payload: bytes) -> bytes:
        h = [
            b"WARC/1.0",
            b"WARC-Type: " + wtype.encode(),
            b"WARC-Record-ID: <urn:uuid:d%d>" % doc_id,
            b"WARC-Date: 2026-08-15T00:00:00Z",
            b"WARC-Target-URI: http://docs.example/%d" % doc_id,
            b"Content-Length: %d" % len(payload),
        ]
        return b"\r\n".join(h) + b"\r\n\r\n" + payload + b"\r\n\r\n"

    root = os.path.join(tempfile.mkdtemp(prefix="q_wc1_"), "warcs")
    os.makedirs(root)
    buckets: dict[int, list[bytes]] = {0: [], 1: [], 2: [], 3: []}
    for did, text in zip(docs["doc_id"], docs["text"]):
        did = int(did)
        wtype = (
            "warcinfo" if did % 10 == 0 else "request" if did % 3 == 0 else "response"
        )
        buckets[did % 4].append(record(wtype, did, (text or "").encode()))
    for i in (0, 1, 2):
        with open(os.path.join(root, f"part{i}.warc"), "wb") as f:
            f.write(b"".join(buckets[i]))
    with open(os.path.join(root, "part3.warc.gz"), "wb") as f:
        f.write(b"".join(gzip.compress(r) for r in buckets[3]))

    wd.register(spark)
    scan = (
        spark.read.format("warc")
        .option("metaOnly", "true")
        .load(root)
        .filter(F.col("record_id").isNotNull())
    )
    return (
        scan.select(
            "warc_type",
            "content_length",
            F.regexp_extract(F.col("target_uri"), r"/(\d+)$", 1)
            .cast("long")
            .alias("did"),
        )
        .groupBy("warc_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("content_length").cast("long").alias("total_bytes"),
            F.sum("did").alias("sum_ids"),
        )
        .orderBy("warc_type")
    )


@query(
    "q_af1_audio_fingerprint",
    # Audio spectral fingerprints (Haitsma & Kalker 2002 family) over
    # crafted exact-bin sine WAVs, closed form: a pure tone on FFT bin
    # k (N=4096, 64 bands over the 2048 usable bins) has all its
    # energy in band (k-1)*64//2048 (zero leakage up to PCM
    # quantization, collapsed by the 6dp rounding), so the hash is the
    # single bit of that band; amplitude/phase/DC vary per id and must
    # NOT change the hash (the documented invariances, attested live):
    #   fam 0 (silence)            -> 0
    #   fam 1 (bin 512)            -> 1<<15 = 32768
    #   fam 2 (bins 512 + 1536)    -> (1<<15)|(1<<47) = 140737488388096
    #   fam 3 (bin 2017, band 63)  -> bit 63 = the signed minimum
    # hamming<=1 near-dup merges silence with both single-bit hashes
    # and single-tone with its two-tone superset — visible in n_near.
    "WITH f AS (SELECT doc_id, doc_id % 4 AS fam FROM documents "
    "WHERE doc_id BETWEEN 1 AND 36), "
    "h AS (SELECT doc_id, CASE fam WHEN 0 THEN 0 WHEN 1 THEN 32768 "
    "WHEN 2 THEN 140737488388096 ELSE (-9223372036854775807 - 1) END AS afp FROM f), "
    "p AS (SELECT a.doc_id AS ida, count(*) AS n_near FROM h a JOIN h b "
    "ON a.doc_id <> b.doc_id AND bit_count(xor(a.afp, b.afp)) <= 1 "
    "GROUP BY a.doc_id) "
    "SELECT h.doc_id AS media_id, h.afp, "
    "CAST(coalesce(p.n_near, 0) AS BIGINT) AS n_near "
    "FROM h LEFT JOIN p ON p.ida = h.doc_id ORDER BY media_id",
    tags=("multimodal", "audio", "dedup"),
)
def q_af1(spark, sf_dir):
    # REAL pipeline: executor-synthesized RIFF/WAV (stdlib wave module,
    # int16 mono 8 kHz) -> multimodal.audio_fingerprint (REAL PCM
    # decode -> mono mix -> rFFT power bands -> median-threshold bits)
    # -> dedup.hamming_pairs banded near-dup — completing the
    # cross-modal near-dup family (SimHash text / pHash+dHash image /
    # this for audio) on the driver-attested path.
    import math

    from electrician_spark import multimodal as mm
    from electrician_spark.operators import dedup

    ids = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter((F.col("doc_id") >= 1) & (F.col("doc_id") <= 36))
    )

    def synth(batches):
        import io
        import struct
        import wave

        import pandas as pd

        RATE, N = 8000, 4096

        def tone(bins, amp, phase, offset):
            out = [0.0] * N
            for b in bins:
                f = b * RATE / N
                for k in range(N):
                    out[k] += amp * math.sin(2 * math.pi * f * k / RATE + phase)
            return [int(round(x)) + offset for x in out]

        def wav(samples):
            buf = io.BytesIO()
            w = wave.open(buf, "wb")
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(RATE)
            w.writeframes(struct.pack("<%dh" % len(samples), *samples))
            w.close()
            return buf.getvalue()

        for batch in batches:
            mids, payloads = [], []
            for did in batch["doc_id"]:
                did = int(did)
                fam = did % 4
                amp = 2000 + (did * 37) % 8000
                phase = (did % 3) * math.pi / 4
                offset = (did % 5) * 100
                if fam == 0:
                    s = [offset] * N  # DC-only: mean removal zeroes it
                elif fam == 1:
                    s = tone([512], amp, phase, offset)
                elif fam == 2:
                    s = tone([512, 1536], amp / 2, phase, offset)
                else:
                    s = tone([2017], amp, phase, offset)
                payloads.append(wav(s))
                mids.append(did)
            yield pd.DataFrame({"media_id": mids, "payload": payloads})

    media = ids.mapInPandas(synth, "media_id long, payload binary")
    sig = mm.audio_fingerprint(media).select("media_id", "afp")
    # Materialize the 36-row fingerprint table ONCE (lazy checkpoint):
    # same five-branch fan-out as q_ph1, and here every unmaterialized
    # branch re-ran the pure-Python tone synthesis (~300k sin() calls)
    # plus PCM decode + rFFT — five times (guide §2.4; bounded).
    sig = sig.localCheckpoint(eager=False)
    pairs = dedup.hamming_pairs(sig, "media_id", "afp", max_hamming=1)
    near = (
        pairs.select(F.col("id_a").alias("media_id"))
        .unionAll(pairs.select(F.col("id_b").alias("media_id")))
        .groupBy("media_id")
        .agg(F.count("*").alias("n_near"))
    )
    return (
        sig.join(near, "media_id", "left")
        .select(
            "media_id",
            "afp",
            F.coalesce(F.col("n_near"), F.lit(0)).cast("long").alias("n_near"),
        )
        .orderBy("media_id")
    )


# q_hx1's synthesized page template, shared between the Spark builder
# and the analytic derivation in the oracle comment: chrome the
# extractor must drop (title, script, nav link farm, anchor-only div,
# a too-short paragraph) around one or two real prose blocks taken
# from the document text.
_HX_NWORDS = (
    "CASE WHEN {s} = '' THEN 0 "
    "ELSE length({s}) - length(replace({s}, ' ', '')) + 1 END"
)


@query(
    "q_hx1_html_main_text",
    # jusText-lite main-content extraction over pages SYNTHESIZED from
    # documents, so the expected output is closed-form: the two <p>
    # prose blocks survive iff they carry >= 5 words (link density 0);
    # title ('T', 1 word), the nav link farm ('Home B', 2 words, all
    # anchor text), the anchor-only div ('click here now', 3 words,
    # density 1) and '<p>tiny</p>' are all dropped. Raw block-fragment
    # census: 8 non-empty fragments per page (html/head preamble, 'T',
    # head/body glue, nav inner, s1, div inner, 'tiny', body/html
    # tail) + 1 when the page is big enough to carry the second
    # paragraph. Word counts replay as space counts because the
    # cleaner collapses whitespace runs to single spaces.
    "WITH m AS (SELECT doc_id, substr(text, 1, 120) AS s1r, "
    "substr(text, 121, 80) AS s2r, n_chars > 200 AS big "
    "FROM documents WHERE doc_id < 250), "
    "t AS (SELECT doc_id, big, "
    "trim(regexp_replace(s1r, '\\s+', ' ', 'g')) AS s1, "
    "CASE WHEN big THEN trim(regexp_replace(s2r, '\\s+', ' ', 'g')) ELSE '' END AS s2 "
    "FROM m), "
    "w AS (SELECT doc_id, big, s1, s2, "
    f"{_HX_NWORDS.format(s='s1')} AS w1, {_HX_NWORDS.format(s='s2')} AS w2 FROM t), "
    "g AS (SELECT doc_id, big, s1, s2, w1 >= 5 AS g1, big AND w2 >= 5 AS g2 FROM w) "
    "SELECT doc_id, CAST(8 + CASE WHEN big THEN 1 ELSE 0 END AS INTEGER) AS n_blocks, "
    "CAST(CASE WHEN g1 THEN 1 ELSE 0 END + CASE WHEN g2 THEN 1 ELSE 0 END AS INTEGER) "
    "AS n_good_blocks, "
    "CASE WHEN g1 AND g2 THEN s1 || chr(10) || s2 "
    "WHEN g1 THEN s1 WHEN g2 THEN s2 ELSE '' END AS text "
    "FROM g ORDER BY doc_id",
    tags=("crawl", "text"),
)
def q_hx1(spark, sf_dir):
    # functions/html.extract_main_text: comment/script-content strip,
    # block split at every block-tag boundary, per-block features
    # (words, VISIBLE anchor chars, link density), prose gate — all
    # RE2-portable Column expressions, zero shuffle, zero Python.
    from electrician_spark.functions import html as hx

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    t = F.col("text")
    page = F.concat(
        F.lit(
            '<html><head><title>T</title><script>var x = 1;</script></head>'
            '<body><nav><a href="/">Home</a> <a href="/b">B</a></nav><p>'
        ),
        F.substring(t, 1, 120),
        F.lit('</p><div><a href="/x">click here now</a></div><p>tiny</p>'),
        F.when(
            F.col("n_chars") > 200,
            F.concat(F.lit("<p>"), F.substring(t, 121, 80), F.lit("</p>")),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = docs.select("doc_id", page.alias("html"))
    return (
        hx.extract_main_text(pages)
        .select(
            "doc_id",
            F.col("n_blocks").cast("int").alias("n_blocks"),
            F.col("n_good_blocks").cast("int").alias("n_good_blocks"),
            "text",
        )
        .orderBy("doc_id")
    )


# Frozen coefficient table for q_fc1 — every weight is a dyadic
# rational (a multiple of 2^-6), so the fold's float64 sums are EXACT
# in any summation order and the keep/drop boundary cannot drift
# between engines. Mirrored verbatim into the oracle VALUES list.
_FC_WEIGHTS = {
    "table": 0.25, "fast": 0.5, "slow": -0.5, "merge": 0.125,
    "spark": 0.375, "window": -0.25, "key": 0.1875, "query": 0.3125,
    "customer": -0.125, "vector": 0.4375, "filter": 0.0625,
    "the": -0.015625, "a": -0.015625,
}
_FC_BIAS = -1.0
_FC_VALUES = ", ".join(f"('{t}', {w!r})" for t, w in sorted(_FC_WEIGHTS.items()))


@query(
    "q_fc1_frozen_linear_scores",
    # Frozen-coefficient linear quality scorer replay: same tokenizer
    # (whitespace split of the lowercased, trimmed text), same weight
    # table, score summed over token multiplicity + bias, keep = z > 0.
    # Dyadic weights make both engines' sums bit-exact.
    f"WITH w(tok, wt) AS (VALUES {_FC_VALUES}), "
    "t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok "
    "FROM documents), "
    "s AS (SELECT t.doc_id, sum(coalesce(w.wt, 0.0)) AS acc, "
    "sum(CASE WHEN w.tok IS NOT NULL THEN 1 ELSE 0 END) AS n_hits "
    "FROM t LEFT JOIN w ON w.tok = t.tok GROUP BY t.doc_id) "
    "SELECT doc_id, CAST(-1.0 + acc AS DOUBLE) AS quality_z, "
    "(-1.0 + acc) > 0 AS quality_keep, CAST(n_hits AS BIGINT) AS n_hits "
    "FROM s ORDER BY doc_id",
    tags=("classifier", "text"),
)
def q_fc1(spark, sf_dir):
    # operators/classifier.linear_scores: the auditable deployment mode
    # of a quality model — literal weight map, one per-row fold, zero
    # shuffle, keep-decision exactness guaranteed by dyadic weights.
    # n_hits (tokens carrying a weight) rides along via the same map.
    from electrician_spark.functions.text import tokens as _tokens
    from electrician_spark.operators.classifier import linear_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    scored = linear_scores(docs, _FC_WEIGHTS, bias=_FC_BIAS)
    toks = _tokens(F.lower(F.col("text")))
    vocab = sorted(_FC_WEIGHTS)
    n_hits = F.size(F.filter(toks, lambda t: t.isin(*vocab)))
    return (
        scored.select(
            "doc_id",
            "quality_z",
            "quality_keep",
            n_hits.cast("long").alias("n_hits"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_aq1_audio_quality",
    # Audio quality battery over crafted WAVs, closed form per family:
    #   fam 0 all-zero:       clip 0, silence 1, rms/peak None (-inf);
    #   fam 1 ±A alternating: rms == A exactly (sqrt of a perfect
    #     square), so rms_dbfs == peak_dbfs == 20·log10(A/full);
    #   fam 2 half zeros, half ±full: clip 1024/2048 of samples ... —
    #     clip counts |s| >= full over ALL samples = 0.5; the zero
    #     half makes silence_ratio 0.5 (frame 1024 divides the 2048-
    #     sample halves); rms = full/√2 → dbfs = 20·log10(1/√2);
    #   fam 3 ±full everywhere: clip 1, rms_dbfs = peak_dbfs = 0.
    # dbfs strings are %.6f of the same double arithmetic both sides.
    "WITH f AS (SELECT doc_id, doc_id % 4 AS fam, "
    "1000 + (doc_id * 13) % 2000 AS amp FROM documents "
    "WHERE doc_id BETWEEN 1 AND 40) "
    "SELECT doc_id AS media_id, CAST(4096 AS BIGINT) AS n_samples, "
    "CASE fam WHEN 2 THEN '0.500000' WHEN 3 THEN '1.000000' "
    "ELSE '0.000000' END AS clip_ratio, "
    "CASE fam WHEN 0 THEN '1.000000' WHEN 2 THEN '0.500000' "
    "ELSE '0.000000' END AS silence_ratio, "
    "CASE fam WHEN 0 THEN NULL "
    "WHEN 1 THEN printf('%.6f', 20 * log10(CAST(amp AS DOUBLE) / 32767)) "
    "WHEN 2 THEN printf('%.6f', 20 * log10(sqrt(32767.0 * 32767.0 / 2) / 32767)) "
    "ELSE '0.000000' END AS rms_dbfs, "
    "CASE fam WHEN 0 THEN NULL "
    "WHEN 1 THEN printf('%.6f', 20 * log10(CAST(amp AS DOUBLE) / 32767)) "
    "ELSE '0.000000' END AS peak_dbfs, "
    "'ok' AS ok FROM f ORDER BY media_id",
    tags=("multimodal", "audio"),
)
def q_aq1(spark, sf_dir):
    # REAL pipeline: executor-synthesized RIFF/WAV -> multimodal.
    # audio_quality_stats (REAL stdlib-wave PCM decode, numpy-
    # vectorized clip/silence/level battery, DLQ error channel) — the
    # pre-transcription gates an audio corpus runs at scale.
    from electrician_spark import multimodal as mm

    ids = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter((F.col("doc_id") >= 1) & (F.col("doc_id") <= 40))
    )

    def synth(batches):
        import io
        import struct
        import wave

        import pandas as pd

        N, FULL = 4096, 32767

        def wav(samples):
            buf = io.BytesIO()
            w = wave.open(buf, "wb")
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(struct.pack("<%dh" % len(samples), *samples))
            w.close()
            return buf.getvalue()

        def alt(a, n):
            return [a if k % 2 == 0 else -a for k in range(n)]

        for batch in batches:
            mids, payloads = [], []
            for did in batch["doc_id"]:
                did = int(did)
                fam = did % 4
                amp = 1000 + (did * 13) % 2000
                if fam == 0:
                    s = [0] * N
                elif fam == 1:
                    s = alt(amp, N)
                elif fam == 2:
                    s = [0] * (N // 2) + alt(FULL, N // 2)
                else:
                    s = alt(FULL, N)
                payloads.append(wav(s))
                mids.append(did)
            yield pd.DataFrame({"media_id": mids, "payload": payloads})

    media = ids.mapInPandas(synth, "media_id long, payload binary")
    return mm.audio_quality_stats(media).orderBy("media_id")


# Frozen BPE merge list for q_bp1 — train_bpe_merges on the SAME
# literal mini-corpus as q_wp1 (num_merges=40, min_count=1; the
# likelihood loop exhausts at 34). The oracle replays ENCODING — the
# lowest-rank-first merge loop — per distinct pre-token with a
# recursive CTE over the symbol list; the trainer/artifact round-trip
# is attested by the hash: any drift from this literal breaks it.
_BPE_FROZEN_MERGES = [
    ("e", "</w>"), (" ", "s"), ("e", "r"), ("i", "n"), ("s", "</w>"),
    (" ", "a"), (" ", "b"), (" ", "t"), ("a", "t"), ("er", "</w>"),
    ("o", "r"), ("o", "w"), ("ow", "</w>"), ("s", "t"), (" ", "c"),
    (" ", "f"), (" ", "j"), (" ", "v"), (" j", "o"), (" jo", "in"),
    (" join", "</w>"), (" t", "a"), (" ta", "b"), (" tab", "l"),
    ("a", "</w>"), ("a", "l"), ("a", "r"), ("g", "</w>"), ("h", "</w>"),
    ("h", "e</w>"), ("i", "l"), ("n", "</w>"), ("p", "ar"), ("t", "</w>"),
]
# rank rows as 'a<SEP>b' keys; SEP = chr(1), which cannot occur in any
# symbol (symbols are corpus characters + the </w> marker)
_BPE_RK_SQL = ", ".join(
    "('" + (a + "\x01" + b).replace("\x01", "' || chr(1) || '") + f"', {i})"
    for i, (a, b) in enumerate(_BPE_FROZEN_MERGES)
)


@query(
    "q_bp1_bpe_encode",
    # BPE encoding replay (Sennrich 2016): GPT-2-style pre-tokenization
    # (same RE2 pattern both engines), then per distinct pre-token the
    # exact encode_word loop — find the LOWEST-RANK adjacent symbol
    # pair, merge its first occurrence, repeat until no learned pair
    # remains — as a recursive CTE over the symbol list. Documents
    # reassemble by pre-token position; the md5 hash of the full
    # space-joined piece string pins every piece, boundary, and order.
    "WITH RECURSIVE "
    f"rk(k, rank) AS (VALUES {_BPE_RK_SQL}), "
    "dw AS (SELECT doc_id, word, pos FROM ("
    "SELECT doc_id, unnest(pts) AS word, generate_subscripts(pts, 1) AS pos "
    "FROM (SELECT doc_id, regexp_extract_all(text, "
    "'(''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+|\\s+)', 1) "
    "AS pts FROM documents)) WHERE NOT regexp_matches(word, '^\\s+$')), "
    "words AS (SELECT DISTINCT word FROM dw), "
    "seg AS ("
    "SELECT word, list_append(string_split(word, ''), '</w>') AS syms FROM words "
    "UNION ALL "
    "SELECT word, list_concat(list_concat(list_slice(syms, 1, bi - 1), "
    "[syms[bi] || syms[bi + 1]]), list_slice(syms, bi + 2, len(syms))) AS syms "
    "FROM (SELECT word, syms, list_position(pairs, bk) AS bi "
    "FROM (SELECT word, syms, pairs, "
    "(SELECT r.k FROM rk r WHERE list_contains(pairs, r.k) "
    "ORDER BY r.rank LIMIT 1) AS bk "
    "FROM (SELECT word, syms, list_transform(generate_series(1, len(syms) - 1), "
    "i -> syms[i] || chr(1) || syms[i + 1]) AS pairs FROM seg)) "
    "WHERE bk IS NOT NULL)), "
    "fin AS (SELECT word, syms FROM seg s WHERE NOT EXISTS ("
    "SELECT 1 FROM rk r WHERE list_contains("
    "list_transform(generate_series(1, len(s.syms) - 1), "
    "i -> s.syms[i] || chr(1) || s.syms[i + 1]), r.k))), "
    "docs AS (SELECT dw.doc_id, "
    "string_agg(array_to_string(f.syms, ' '), ' ' ORDER BY dw.pos) AS enc, "
    "CAST(sum(len(f.syms)) AS BIGINT) AS n_pieces, "
    "CAST(count(*) AS BIGINT) AS n_pretokens "
    "FROM dw JOIN fin f USING (word) GROUP BY dw.doc_id) "
    "SELECT doc_id, n_pretokens, n_pieces, "
    "CAST('0x' || substr(md5(enc), 1, 8) AS BIGINT) AS enc_hash "
    "FROM docs ORDER BY doc_id",
    tags=("tokenizer",),
)
def q_bp1(spark, sf_dir):
    # train -> save -> load -> encode on the attested path (the q_wp1
    # recipe for the BPE family): tokenizer.train_bpe_merges on the
    # literal mini-corpus, save_tokenizer/load_tokenizer round-trip,
    # bpe_encode over the corpus (JVM pre-tokenization + Arrow-batched
    # merge loop with a per-batch word cache).
    from electrician_spark.functions import tokenizer as tk

    mini = spark.createDataFrame([(t,) for t in _WP_MINI_CORPUS], "text string")
    merges = tk.train_bpe_merges(mini, num_merges=40, min_count=1)
    _kind, merges2 = _round_trip(
        lambda p: tk.save_tokenizer(p, "bpe", merges), tk.load_tokenizer, "bpe.json"
    )
    return _bp1_encode(spark, sf_dir, merges2)


def _bp1_encode(spark, sf_dir, merges2):
    """q_bp1's encode/census chain given loaded merges — shared by the
    live-training correctness row and the frozen-artifact bench
    variant (identical plan from here down; the q_ug1 pattern)."""
    from electrician_spark.functions import tokenizer as tk
    from electrician_spark.functions.text import bpe_pretokens

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    enc = tk.bpe_encode(docs, merges2)
    joined = F.array_join(F.col("bpe_tokens"), " ")
    return (
        enc.select(
            "doc_id",
            F.size(bpe_pretokens(F.col("text"))).cast("long").alias("n_pretokens"),
            F.size(F.col("bpe_tokens")).cast("long").alias("n_pieces"),
            F.conv(F.substring(F.md5(joined), 1, 8), 16, 10)
            .cast("long")
            .alias("enc_hash"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_fo1_fanout_dlq",
    # C4 fan-out + C5/C6 divert/DLQ through the REAL foreachBatch
    # router on a REAL two-micro-batch stream: every primary sink
    # receives every non-error row of every batch (channels a and b
    # must come back IDENTICAL — the fan-out contract), error-typed
    # rows divert to the DLQ parquet sink instead of being dropped.
    # The oracle derives all three channels from the source directly.
    "WITH e AS (SELECT event_type FROM events WHERE event_id < 600), "
    "g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM e "
    "WHERE event_type <> 'error' GROUP BY event_type), "
    "d AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM e "
    "WHERE event_type = 'error' GROUP BY event_type) "
    "SELECT channel, event_type, n FROM ("
    "SELECT 'a' AS channel, event_type, n FROM g "
    "UNION ALL SELECT 'b', event_type, n FROM g "
    "UNION ALL SELECT 'dlq', event_type, n FROM d) "
    "ORDER BY channel, event_type",
    tags=("streaming", "reliability", "sink"),
)
def q_fo1(spark, sf_dir):
    # streaming/sinks.ForEachBatchRouter driven by writeStream.
    # foreachBatch (availableNow, maxFilesPerTrigger=1 -> two real
    # micro-batches): DLQ split first (reliability.with_dlq_split —
    # one predicate, both sides off the same scan), then every
    # primary sink gets the surviving batch (persist() guards the
    # double-write from recomputation). Census runs on the READ-BACK
    # parquet of all three channels, so the attested values crossed
    # the actual sink boundary, not a driver-side buffer.
    import os
    import tempfile

    from electrician_spark.streaming.sinks import ForEachBatchRouter, parquet_sink
    from electrician_spark.streaming.sources import arrival_waves

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 600)
        .select("event_id", "event_type")
    )
    tmp = tempfile.mkdtemp(prefix="q_fo1_")
    stream = arrival_waves(
        spark, os.path.join(tmp, "src"), [ev.filter(F.col("event_id") % 2 == r) for r in (1, 0)]
    )
    paths = {c: os.path.join(tmp, f"sink_{c}") for c in ("a", "b", "dlq")}
    router = ForEachBatchRouter(
        sinks=[parquet_sink(paths["a"]), parquet_sink(paths["b"])],
        dlq_sink=parquet_sink(paths["dlq"]),
        error_condition=F.col("event_type") == "error",
    )
    q = (
        stream.writeStream.foreachBatch(router)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)

    parts = [
        spark.read.parquet(p).select(F.lit(c).alias("channel"), "event_type")
        for c, p in paths.items()
    ]
    union = parts[0]
    for part in parts[1:]:
        union = union.unionByName(part)
    return (
        union.groupBy("channel", "event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("channel", "event_type")
    )


# ---------------------------------------------------------------------------
# The unigram/SentencePiece Viterbi encode, the C5 breaker-backup divert,
# the A4 threshold abort, stateful timeout/eviction, and the suffix-array
# substring dedup variant.
# ---------------------------------------------------------------------------


# Unigram-LM (SentencePiece, Kudo 2018): the training mini-corpus is the
# same literal as _WP_MINI_CORPUS (sf-independent), so the trained
# (piece, logprob) table is known at authoring time and FROZEN below —
# as integer numerators k with logprob = k / 2^20 (dyadic rationals,
# exact in binary64 on every engine). The live query trains, snaps the
# model onto that grid with tokenizer.quantize_logprobs, round-trips it
# through save_tokenizer/load_tokenizer, and encodes the corpus; the
# oracle replays the Viterbi DP per distinct word with a recursive CTE
# that carries the score/piece-count/multi-piece DP vectors as LIST
# columns, one row per (word, position). Dyadic weights make every DP
# sum EXACT, so the argmax path (ties: longest piece, the
# _unigram_viterbi scan order) is engine-independent — any drift in
# trainer, quantizer, artifact codec, or encoder breaks the hash.
# 'key'/'query' in documents contain 'y' (absent from the mini-corpus),
# exercising the all-chars fallback for unsegmentable words live.
_UG_FROZEN_MODEL = [
    ("a", -3059504), ("join", -3059504), ("the", -3059504),
    ("agg", -3786322), ("and", -3786322), ("batch", -3786322),
    ("beats", -3786322), ("big", -3786322), ("column", -3786322),
    ("custom", -3786322), ("data", -3786322), ("er", -3786322),
    ("fast", -3786322), ("filter", -3786322), ("group", -3786322),
    ("hash", -3786322), ("line", -3786322), ("merge", -3786322),
    ("on", -3786322), ("order", -3786322), ("part", -3786322),
    ("row", -3786322), ("scans", -3786322), ("slow", -3786322),
    ("small", -3786322), ("sort", -3786322), ("spark", -3786322),
    ("spills", -3786322), ("stream", -3786322), ("table", -3786322),
    ("tables", -3786322), ("value", -3786322), ("vector", -3786322),
    ("window", -3786322), ("able", -26023151), ("ables", -26023151),
    ("ag", -26023151), ("alue", -26023151), ("am", -26023151),
    ("b", -26023151), ("c", -26023151), ("d", -26023151),
    ("e", -26023151), ("f", -26023151), ("g", -26023151),
    ("h", -26023151), ("i", -26023151), ("j", -26023151),
    ("k", -26023151), ("l", -26023151), ("m", -26023151),
    ("n", -26023151), ("o", -26023151), ("p", -26023151),
    ("r", -26023151), ("s", -26023151), ("t", -26023151),
    ("u", -26023151), ("v", -26023151), ("w", -26023151),
]
_UG_MODEL_SQL = ", ".join(f"('{p}', {k})" for p, k in _UG_FROZEN_MODEL)


@query(
    "q_ug1_unigram_viterbi_encode",
    "WITH RECURSIVE "
    f"vp(piece, k) AS (VALUES {_UG_MODEL_SQL}), "
    "v AS (SELECT piece, length(piece) AS l, "
    "CAST(k AS DOUBLE) / 1048576.0 AS lp FROM vp), "
    "dw AS (SELECT doc_id, w AS word FROM (SELECT doc_id, "
    "unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents) "
    "WHERE length(w) > 0), "
    "words AS (SELECT DISTINCT word FROM dw), "
    # DP vectors as lists: best[i+1] = Viterbi score of word[:i]
    # (NULL = unreachable), np/nm = piece count / multi-char piece
    # count along the argmax path. One row per (word, position); the
    # winning candidate at each position is the correlated top-1 over
    # the frozen piece table ordered (score DESC, piece length DESC) —
    # exactly _unigram_viterbi's strict-improvement descending-length
    # scan, bit-equal because every score is a sum of dyadics.
    "seg AS ("
    "SELECT word, 0 AS i, [CAST(0.0 AS DOUBLE)] AS best, [0] AS np, [0] AS nm "
    "FROM words "
    "UNION ALL "
    "SELECT word, i + 1, list_append(best, w['sc']), "
    "list_append(np, w['np']), list_append(nm, w['nm']) "
    "FROM ("
    "SELECT s.word, s.i, s.best, s.np, s.nm, "
    "(SELECT {'sc': list_extract(s.best, s.i + 2 - v.l) + v.lp, "
    "'np': list_extract(s.np, s.i + 2 - v.l) + 1, "
    "'nm': list_extract(s.nm, s.i + 2 - v.l) + CASE WHEN v.l >= 2 THEN 1 ELSE 0 END} "
    "FROM v WHERE v.l <= s.i + 1 "
    "AND v.piece = substr(s.word, s.i + 2 - v.l, v.l) "
    "AND list_extract(s.best, s.i + 2 - v.l) IS NOT NULL "
    "ORDER BY list_extract(s.best, s.i + 2 - v.l) + v.lp DESC, v.l DESC "
    "LIMIT 1) AS w "
    "FROM seg s WHERE s.i < length(s.word)) q), "
    "fin AS (SELECT word, list_extract(best, length(word) + 1) AS bs, "
    "list_extract(np, length(word) + 1) AS npf, "
    "list_extract(nm, length(word) + 1) AS nmf "
    "FROM seg WHERE i = length(word)), "
    # Unreachable words fall back to the all-single-chars segmentation
    # (the encoder contract); their score is the sum of the chars'
    # logprobs with out-of-vocab chars contributing 0 — replayed here
    # as an occurrence-weighted sum over the single-char pieces.
    "wstat AS (SELECT f.word, "
    "CASE WHEN f.bs IS NULL THEN length(f.word) ELSE f.npf END AS n_pieces_w, "
    "CASE WHEN f.bs IS NULL THEN 0 ELSE f.nmf END AS n_multi_w, "
    "CASE WHEN f.bs IS NULL THEN coalesce((SELECT sum(v.lp * "
    "(length(f.word) - length(replace(f.word, v.piece, '')))) "
    "FROM v WHERE v.l = 1), 0.0) ELSE f.bs END AS score_w "
    "FROM fin f) "
    "SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words, "
    "CAST(sum(ws.n_pieces_w) AS BIGINT) AS n_pieces, "
    "CAST(sum(ws.n_multi_w) AS BIGINT) AS n_multi, "
    "round(sum(ws.score_w), 6) AS score "
    "FROM dw JOIN wstat ws USING (word) "
    "GROUP BY dw.doc_id ORDER BY dw.doc_id",
    tags=("tokenizer",),
)
def q_ug1(spark, sf_dir):
    # train -> quantize -> save -> load -> encode, all on the attested
    # path: train_unigram_tokenizer runs live on the literal
    # mini-corpus, quantize_logprobs snaps the model onto the 2^-20
    # dyadic grid (the frozen oracle table), the artifact round-trips
    # through save_tokenizer/load_tokenizer, and the reloaded model
    # drives unigram_encode (Viterbi) over the corpus. The score column
    # re-scores the EMITTED pieces via a broadcast join against the
    # model table — equal to the DP's best score only if the encoder
    # returned the true argmax segmentation.
    # Reference: Kudo 2018 (SentencePiece unigram LM); SURVEY §2.13.
    from electrician_spark.functions import tokenizer as tk

    mini = spark.createDataFrame([(t,) for t in _WP_MINI_CORPUS], "text string")
    model = tk.train_unigram_tokenizer(
        mini, vocab_size=60, max_piece_len=6, em_iters=2
    )
    qm = tk.quantize_logprobs(model, bits=20)
    _kind, model2 = _round_trip(
        lambda p: tk.save_tokenizer(p, "unigram", qm), tk.load_tokenizer, "unigram.json"
    )
    return _ug1_encode(spark, sf_dir, model2)


def _ug1_encode(spark, sf_dir, model2):
    """q_ug1's encode/score chain given a loaded quantized unigram
    model — shared by the live-training correctness row and the
    frozen-artifact bench variant (identical plan from here down)."""
    from electrician_spark.functions import tokenizer as tk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    enc = tk.unigram_encode(docs, model2, max_piece_len=6)
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda x: F.length(x) > 0)
    model_df = spark.createDataFrame(
        [(p, lp) for p, lp in model2], "piece string, lp double"
    )
    # n_words is aliased in its OWN projection below the explode: an
    # expression placed in the same select as a generator lands ABOVE
    # the Generate and re-evaluates once per exploded piece row — the
    # interpreted filter∘split HOF ran ~360k times instead of 5k,
    # measured 5.30 s vs 0.59 s for the identical output at sf0.1 (the
    # same hazard _shingle_table documents for element_at∘split).
    base = enc.select("doc_id", F.size(words).alias("n_words"), "pieces")
    ex = base.select(
        "doc_id",
        "n_words",
        F.explode("pieces").alias("piece"),
    )
    return (
        ex.join(F.broadcast(model_df), "piece", "left")
        .groupBy("doc_id")
        .agg(
            F.first("n_words").cast("long").alias("n_words"),
            F.count("*").cast("long").alias("n_pieces"),
            F.sum(F.when(F.length("piece") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_multi"),
            F.round(F.sum(F.coalesce(F.col("lp"), F.lit(0.0))), 6).alias("score"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_em1_unigram_hard_em",
    # A unigram-LM TRAINING ROUND replayed end-to-end in SQL (the r10
    # verdict's last tokenizer-evidence gap): one HARD-EM (Viterbi-EM)
    # sweep over the documents corpus starting from the frozen q_ug1
    # model. Everything is exact: the E-step is the q_ug1 recursive-
    # CTE Viterbi DP extended to carry the ARGMAX PATH's piece list
    # (integer u20 scores — ties cannot drift), the M-step is integer
    # piece counts + add-0.5 smoothing over the model support +
    # floor(ln(p)*2^20 + 0.5) re-quantization (the q_li1 arithmetic),
    # and both the OLD- and NEW-model corpus objectives (freq-weighted
    # total Viterbi score, fallback words scored by their in-vocab
    # single chars) are exact integer sums, so hard EM's monotone
    # improvement is visible IN THE ATTESTED VALUES ('__obj_new__' >=
    # '__obj_old__'). Output = the entire new model (piece, count,
    # new weight) + the two objective sentinel rows.
    "WITH RECURSIVE "
    f"vp(piece, k) AS (VALUES {_UG_MODEL_SQL}), "
    "v AS (SELECT piece, length(piece) AS l, k FROM vp), "
    "dw AS (SELECT w AS word, count(*) AS freq FROM (SELECT "
    "unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents) "
    "WHERE length(w) > 0 GROUP BY w), "
    "seg AS ("
    "SELECT word, 0 AS i, [CAST(0 AS BIGINT)] AS best, "
    "[CAST([] AS VARCHAR[])] AS pl FROM dw "
    "UNION ALL "
    "SELECT word, i + 1, list_append(best, w['sc']), list_append(pl, w['ps']) "
    "FROM ("
    "SELECT s.word, s.i, s.best, s.pl, "
    # list_concat(x, [y]) instead of list_append(x, y): DuckDB 1.0's
    # binder rejects list_append on a CORRELATED list inside a struct
    # literal with a spurious STRUCT_PACK error; concat binds fine.
    "(SELECT {'sc': list_extract(s.best, s.i + 2 - v.l) + v.k, "
    "'ps': list_concat(list_extract(s.pl, s.i + 2 - v.l), [v.piece])} "
    "FROM v WHERE v.l <= s.i + 1 "
    "AND v.piece = substr(s.word, s.i + 2 - v.l, v.l) "
    "AND list_extract(s.best, s.i + 2 - v.l) IS NOT NULL "
    "ORDER BY list_extract(s.best, s.i + 2 - v.l) + v.k DESC, v.l DESC "
    "LIMIT 1) AS w "
    "FROM seg s WHERE s.i < length(s.word)) q), "
    "fin AS (SELECT word, list_extract(best, length(word) + 1) AS bs, "
    "list_extract(pl, length(word) + 1) AS ps FROM seg WHERE i = length(word)), "
    "est AS (SELECT f.word, "
    "CASE WHEN f.bs IS NULL THEN coalesce((SELECT sum(v.k * "
    "(length(f.word) - length(replace(f.word, v.piece, '')))) "
    "FROM v WHERE v.l = 1), 0) ELSE f.bs END AS sw, "
    "CASE WHEN f.bs IS NULL THEN list_transform(range(length(f.word)), "
    "j -> substr(f.word, CAST(j + 1 AS INT), 1)) ELSE f.ps END AS ps "
    "FROM fin f), "
    "tf AS (SELECT sum(freq) AS tfreq FROM dw), "
    "oldo AS (SELECT sum(d.freq * e.sw) AS o FROM dw d JOIN est e "
    "ON e.word = d.word), "
    "px AS (SELECT x.piece, sum(x.freq) AS c FROM (SELECT d.freq AS freq, "
    "unnest(e.ps) AS piece FROM est e JOIN dw d ON d.word = e.word) x "
    "JOIN vp p ON p.piece = x.piece GROUP BY x.piece), "
    "kk AS (SELECT count(*) AS kc FROM vp), "
    "grid AS (SELECT p.piece, coalesce(px.c, 0) AS c0 FROM vp p "
    "LEFT JOIN px ON px.piece = p.piece), "
    "tot AS (SELECT sum(c0) AS t FROM grid), "
    "nm AS (SELECT piece, c0, "
    "CAST(floor(ln((c0 + 0.5) / (t + 0.5 * kc)) * 1048576.0 + 0.5) AS BIGINT) "
    "AS k2 FROM grid CROSS JOIN tot CROSS JOIN kk), "
    "v2 AS (SELECT piece, length(piece) AS l, k2 AS k FROM nm), "
    "seg2 AS ("
    "SELECT word, 0 AS i, [CAST(0 AS BIGINT)] AS best FROM dw "
    "UNION ALL "
    "SELECT word, i + 1, list_append(best, "
    "(SELECT list_extract(s.best, s.i + 2 - v2.l) + v2.k FROM v2 "
    "WHERE v2.l <= s.i + 1 "
    "AND v2.piece = substr(s.word, s.i + 2 - v2.l, v2.l) "
    "AND list_extract(s.best, s.i + 2 - v2.l) IS NOT NULL "
    "ORDER BY list_extract(s.best, s.i + 2 - v2.l) + v2.k DESC, v2.l DESC "
    "LIMIT 1)) "
    "FROM seg2 s WHERE s.i < length(s.word)), "
    "fin2 AS (SELECT word, list_extract(best, length(word) + 1) AS bs "
    "FROM seg2 WHERE i = length(word)), "
    "est2 AS (SELECT f.word, CASE WHEN f.bs IS NULL THEN coalesce("
    "(SELECT sum(v2.k * (length(f.word) - length(replace(f.word, v2.piece, "
    "'')))) FROM v2 WHERE v2.l = 1), 0) ELSE f.bs END AS sw FROM fin2 f), "
    "newo AS (SELECT sum(d.freq * e.sw) AS o FROM dw d JOIN est2 e "
    "ON e.word = d.word) "
    "SELECT piece, CAST(c0 AS BIGINT) AS cnt, k2 AS val_u20 FROM nm "
    "UNION ALL SELECT '__obj_new__', CAST(tfreq AS BIGINT), CAST(o AS BIGINT) "
    "FROM tf, newo "
    "UNION ALL SELECT '__obj_old__', CAST(tfreq AS BIGINT), CAST(o AS BIGINT) "
    "FROM tf, oldo "
    "ORDER BY piece",
    tags=("tokenizer",),
)
def q_em1(spark, sf_dir):
    # functions/tokenizer.unigram_hard_em_round on the documents
    # corpus from the frozen q_ug1 model: distributed word-frequency
    # E-step (cost tracks DISTINCT words), Arrow Viterbi encode,
    # integer M-step re-quantized on the dyadic grid, objectives under
    # both models. Soft-EM (forward-backward posteriors) remains the
    # production trainer, property-pinned in test_tokenizer; this row
    # attests a full TRAINING step of the exact-arithmetic EM family
    # member, which is the one a SQL oracle can replay.
    from electrician_spark.functions import tokenizer as tk

    docs = _t(spark, sf_dir, "documents").select("text")
    model = [(p, k / 1048576.0) for p, k in _UG_FROZEN_MODEL]
    new_model, stats = tk.unigram_hard_em_round(
        docs, model, max_piece_len=6, alpha=0.5, quant_bits=20
    )
    rows = [
        (p, stats["counts"][p], int(round(lp * 1048576.0)))
        for p, lp in new_model
    ]
    rows.append(("__obj_new__", stats["total_freq"], stats["new_obj_u"]))
    rows.append(("__obj_old__", stats["total_freq"], stats["old_obj_u"]))
    return spark.createDataFrame(
        rows, "piece string, cnt long, val_u20 long"
    ).orderBy("piece")


@query(
    "q_cb1_breaker_divert",
    # C5 neutral-wire divert (reference wire/submit.go:54-80 +
    # surgeprotector/submit.go:17-32): while the breaker is open every
    # micro-batch goes to the BACKUP sinks and the primaries receive
    # nothing. The oracle therefore shows the full source census under
    # the backup channel and ZERO primary rows — if the router ever
    # wrote a primary batch, the Spark side would emit extra
    # 'primary'-channel rows and the row count would break.
    "WITH e AS (SELECT event_type FROM events WHERE event_id < 600) "
    "SELECT 'backup' AS channel, event_type, "
    "CAST(count(*) AS BIGINT) AS n "
    "FROM e GROUP BY event_type ORDER BY channel, event_type",
    tags=("streaming", "reliability", "sink"),
)
def q_cb1(spark, sf_dir):
    # A PRE-TRIPPED CircuitBreaker(clock=frozen) on a real
    # two-micro-batch availableNow stream through the real
    # ForEachBatchRouter, breaker opened by one recorded error under a
    # frozen monotonic clock (reset_timeout never elapses), so the
    # divert path — not the fan-out path — carries both batches. The
    # census runs on the READ-BACK backup parquet; the primary channel
    # is re-added to the union only if its sink directory exists, so
    # an erroneous primary write surfaces as extra rows, never as a
    # silently-ignored file. Breaker DYNAMICS (open/half-open/close
    # transitions) stay test-pinned in test_reliability.
    import os
    import tempfile

    from electrician_spark.reliability import CircuitBreaker
    from electrician_spark.streaming.sinks import ForEachBatchRouter, parquet_sink
    from electrician_spark.streaming.sources import arrival_waves

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 600)
        .select("event_id", "event_type")
    )
    tmp = tempfile.mkdtemp(prefix="q_cb1_")
    stream = arrival_waves(
        spark, os.path.join(tmp, "src"), [ev.filter(F.col("event_id") % 2 == r) for r in (1, 0)]
    )
    paths = {c: os.path.join(tmp, f"sink_{c}") for c in ("primary", "backup")}
    breaker = CircuitBreaker(
        threshold=1, reset_timeout_sec=1e9, clock=lambda: 0.0
    )
    breaker.record_error()  # trip: one error meets threshold=1
    assert breaker.is_open()
    router = ForEachBatchRouter(
        sinks=[parquet_sink(paths["primary"])],
        backups=[parquet_sink(paths["backup"])],
        breaker=breaker,
    )
    q = (
        stream.writeStream.foreachBatch(router)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)

    parts = [
        spark.read.parquet(paths["backup"]).select(
            F.lit("backup").alias("channel"), "event_type"
        )
    ]
    if os.path.isdir(paths["primary"]):  # divert failed -> extra rows
        parts.append(
            spark.read.parquet(paths["primary"]).select(
                F.lit("primary").alias("channel"), "event_type"
            )
        )
    union = parts[0]
    for part in parts[1:]:
        union = union.unionByName(part)
    return (
        union.groupBy("channel", "event_type")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("channel", "event_type")
    )


@query(
    "q_ab1_threshold_abort",
    # A4 threshold abort (reference meter/monitor.go:37-52): the LAST
    # reliability behavior with no oracle form — "abort raises" is
    # sidestepped by attesting the abort through its OBSERVABLE
    # effects on a real two-micro-batch foreachBatch stream:
    # (a) batch 1 (10/100 = 10% errors, under the 50% threshold) lands
    # normally — good rows in the primary parquet, errors in the DLQ;
    # (b) batch 2 (10/13 = 77% errors) breaches: its errors reach the
    # DLQ (the split runs before the meter check, matching the
    # reference where the monitor reads the meter AFTER counting), its
    # 3 good rows NEVER reach the primary (their absence is the abort
    # — and an erroneous post-abort write surfaces as extra rows);
    # (c) the RECORDED abort reason — regex-extracted from the failed
    # query's StreamingQueryException, not reconstructed — is pinned
    # as a literal row, error counts and threshold included.
    "WITH p AS (SELECT 'primary' AS channel, event_type, "
    "CAST(count(*) AS BIGINT) AS n FROM events "
    "WHERE event_id BETWEEN 1 AND 100 AND event_id % 10 <> 0 "
    "GROUP BY event_type), "
    "d AS (SELECT 'dlq' AS channel, event_type, CAST(count(*) AS BIGINT) AS n "
    "FROM events WHERE event_id BETWEEN 1 AND 200 AND event_id % 10 = 0 "
    "GROUP BY event_type), "
    "a AS (SELECT 'abort' AS channel, "
    "'error ratio 10/13 >= 0.5 " + "—" + " aborting' AS event_type, "
    "CAST(1 AS BIGINT) AS n) "
    "SELECT * FROM p UNION ALL SELECT * FROM d UNION ALL SELECT * FROM a "
    "ORDER BY channel, event_type",
    tags=("streaming", "reliability", "metrics"),
)
def q_ab1(spark, sf_dir):
    # streaming/sinks.ForEachBatchRouter(error_ratio_abort=0.5) on a
    # real availableNow stream; metrics-meter semantics per reference
    # monitor.go. Batch 2 mixes 3 good rows (ids 101/103/105) with the
    # 10 multiples of ten in 110..200 so the abort demonstrably
    # WITHHOLDS deliverable rows rather than aborting an all-error
    # batch that had nothing to deliver anyway.
    import os
    import re
    import tempfile

    from pyspark.errors import StreamingQueryException

    from electrician_spark.streaming.sinks import ForEachBatchRouter, parquet_sink
    from electrician_spark.streaming.sources import arrival_waves

    ev = (
        _t(spark, sf_dir, "events")
        .filter((F.col("event_id") >= 1) & (F.col("event_id") <= 200))
        .select("event_id", "event_type")
    )
    tmp = tempfile.mkdtemp(prefix="q_ab1_")
    b2_ids = [101, 103, 105] + list(range(110, 201, 10))
    stream = arrival_waves(
        spark,
        os.path.join(tmp, "src"),
        [ev.filter(F.col("event_id") <= 100), ev.filter(F.col("event_id").isin(*b2_ids))],
    )
    paths = {c: os.path.join(tmp, f"sink_{c}") for c in ("primary", "dlq")}
    aborted: list[bool] = []
    router = ForEachBatchRouter(
        sinks=[parquet_sink(paths["primary"])],
        dlq_sink=parquet_sink(paths["dlq"]),
        error_condition=F.col("event_id") % 10 == 0,
        error_ratio_abort=0.5,
        on_abort=lambda: aborted.append(True),
    )
    q = (
        stream.writeStream.foreachBatch(router)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        await_stream(q)
        exc = None
    except StreamingQueryException as e:  # the abort IS the attested event
        exc = e
    m = re.search(r"error ratio \d+/\d+ >= [0-9.]+ — aborting", str(exc))
    reason = m.group(0) if (m and aborted) else "NO-ABORT-RECORDED"
    parts = [
        spark.read.parquet(paths["primary"]).select(
            F.lit("primary").alias("channel"), "event_type"
        ),
        spark.read.parquet(paths["dlq"]).select(
            F.lit("dlq").alias("channel"), "event_type"
        ),
    ]
    union = parts[0]
    for part in parts[1:]:
        union = union.unionByName(part)
    census = union.groupBy("channel", "event_type").agg(
        F.count("*").cast("long").alias("n")
    )
    abort_row = spark.createDataFrame(
        [("abort", reason, 1)], "channel string, event_type string, n long"
    )
    return census.unionByName(abort_row).orderBy("channel", "event_type")


@query(
    "q_ev1_eviction_flush",
    # Stateful processing-time timeout/eviction, batch-equivalent: key
    # 'a' arrives ONLY in micro-batch 1 with a hole at seq 3, so its
    # 4..50 tail sits in the resequencer buffer when the batch ends;
    # key 'b' arrives in micro-batch 2, whose processing necessarily
    # lands past 'a's 1 ms idle timeout, so Spark invokes 'a's group
    # with hasTimedOut and the buffer FLUSHES in seq order (the gap
    # abandoned, state dropped). The delivered set is therefore
    # exactly "everything that arrived" — which the plain resequencer
    # would NOT produce (without eviction, 4..50 wait forever behind
    # the missing seq 3), so the oracle attests the eviction wave
    # itself, not just resequencing.
    "WITH e AS (SELECT event_id, event_type FROM events "
    "WHERE event_id BETWEEN 1 AND 50) "
    "SELECT key, seq, payload FROM ("
    "SELECT 'a' AS key, event_id AS seq, event_type AS payload "
    "FROM e WHERE event_id <> 3 "
    "UNION ALL "
    "SELECT 'b', event_id, event_type FROM e WHERE event_id <= 40) "
    "ORDER BY key, seq",
    tags=("streaming", "stateful", "reliability"),
)
def q_ev1(spark, sf_dir):
    # streaming/stateful.resequence(idle_timeout_ms=1) through the
    # REAL applyInPandasWithState path with ProcessingTimeTimeout, two
    # arrival waves; payloads are event_type values from the events
    # table so the attested rows carry corpus data, not synthetics.
    from electrician_spark.streaming import stateful
    from electrician_spark.streaming.sources import arrival_waves

    ev = (
        _t(spark, sf_dir, "events")
        .filter((F.col("event_id") >= 1) & (F.col("event_id") <= 50))
        .select("event_id", "event_type")
    )
    waves = [
        ev.filter(cond).select(
            F.lit(k).alias("key"),
            F.col("event_id").alias("seq"),
            F.col("event_type").alias("payload"),
        )
        for k, cond in (("a", F.col("event_id") != 3), ("b", F.col("event_id") <= 40))
    ]
    out = _memory_run(
        spark,
        "q_ev1_",
        lambda src: stateful.resequence(arrival_waves(spark, src, waves), idle_timeout_ms=1),
        no_data_batches=False,
    )
    return out.select("key", "seq", "payload").orderBy("key", "seq")


@query(
    "q_sa1_suffix_spans",
    # Suffix-doubling exact substring dedup on a PLANTED corpus: each
    # document is rebuilt as 24 synthetic tokens — corpus-unique
    # 'u<md5(doc,pos)>' filler everywhere except docs with
    # doc_id%25 in (3,8,17), which carry their group's shared run
    # 'p<group>_<i>' of length 6+(group%7) spliced at (doc_id%7)+1.
    # Maximal duplicated runs are therefore EXACTLY the planted ones
    # (filler is unique, plants are group-tagged, one per doc), so the
    # oracle is pure arithmetic over doc_id — no suffix logic in SQL.
    # A trailing partial group with a single planted doc has no
    # duplicate, hence the n>=2 group-count gate on both sides of the
    # definition (the operator finds nothing there; the oracle emits
    # nothing there).
    "WITH pl AS (SELECT doc_id, doc_id // 25 AS g, "
    "(doc_id % 7) + 1 AS s, 6 + (doc_id // 25) % 7 AS L "
    "FROM documents WHERE doc_id % 25 IN (3, 8, 17)), "
    "gc AS (SELECT g, count(*) AS n FROM pl GROUP BY g) "
    "SELECT pl.doc_id, CAST(pl.s AS BIGINT) AS start_tok, "
    "CAST(pl.s + pl.L AS BIGINT) AS end_tok, "
    "CAST(pl.L AS BIGINT) AS n_tokens "
    "FROM pl JOIN gc USING (g) WHERE gc.n >= 2 ORDER BY pl.doc_id",
    tags=("dedup", "suffixarray"),
)
def q_sa1(spark, sf_dir):
    # operators/suffixarray.sa_duplicated_spans (Lee 2022 suffix-array
    # form): the doubling-fingerprint ladder (one per-doc exchange,
    # O(1) per site at detection) finds every >=6-token duplicated
    # window and merges flagged starts into maximal spans. Output-
    # equality with dedup.repeated_ngram_spans is test-pinned; this
    # row attests exact maximal-span recovery (position AND length)
    # against analytically-known plants.
    from electrician_spark.operators import suffixarray as sa_ops

    d = F.col("doc_id")
    g = F.floor(d / 25).cast("long")
    s = (d % 7 + 1).cast("long")
    length = (F.lit(6) + g % 7).cast("long")
    planted = (d % 25).isin(3, 8, 17)

    def tok(j):
        filler = F.concat(
            F.lit("u"),
            F.substring(
                F.md5(F.concat(d.cast("string"), F.lit("_"), j.cast("string"))),
                1,
                12,
            ),
        )
        plant = F.concat(
            F.lit("p"),
            g.cast("string"),
            F.lit("_"),
            (j - s).cast("string"),
        )
        return F.when(planted & (j >= s) & (j < s + length), plant).otherwise(
            filler
        )

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .select(
            "doc_id",
            F.array_join(
                F.transform(F.sequence(F.lit(0), F.lit(23)), tok), " "
            ).alias("text"),
        )
    )
    return (
        sa_ops.sa_duplicated_spans(docs, min_len=6, keep=None)
        .select(
            "doc_id",
            F.col("start_tok").cast("long"),
            F.col("end_tok").cast("long"),
            F.col("n_tokens").cast("long"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_rt1_rate_limit_timeout",
    # The SECOND stateful eviction path (q_ev1 covers resequence):
    # rate_limit's idle timeout DROPS the bucket, so a key that
    # returns after idling starts FULL. Three micro-batches: key 'a'
    # exhausts capacity 5 in batch 1 (refill 0 — the bucket can never
    # recover by event time), key 'b' occupies batch 2 while 'a'
    # idles past the 1 ms timeout (the drop fires DURING batch 2 —
    # Spark only invokes hasTimedOut for keys with no data in the
    # running batch), 'a' returns in batch 3 and is admitted 5 more
    # times — WITHOUT the state drop every batch-3 row would divert
    # (refill_per_sec=0, so elapsed event time can never explain an
    # admit). Closed form: within each 10-row wave, the 5 earliest
    # event times admit.
    "WITH e AS (SELECT event_id, event_type FROM events "
    "WHERE event_id BETWEEN 1 AND 30) "
    "SELECT CASE WHEN event_id BETWEEN 11 AND 20 THEN 'b' ELSE 'a' END AS key, "
    "event_id, event_type AS payload, "
    "CASE WHEN (event_id - 1) % 10 < 5 THEN 'admit' ELSE 'divert' END AS admitted "
    "FROM e ORDER BY event_id",
    tags=("streaming", "stateful", "reliability"),
)
def q_rt1(spark, sf_dir):
    # streaming/stateful.rate_limit(idle_timeout_ms=1) through the
    # REAL applyInPandasWithState + ProcessingTimeTimeout path over
    # three arrival waves. Event times are event_id-derived within each
    # wave so the in-batch admit order is deterministic.
    from electrician_spark.streaming import stateful
    from electrician_spark.streaming.sources import arrival_waves

    ev = (
        _t(spark, sf_dir, "events")
        .filter((F.col("event_id") >= 1) & (F.col("event_id") <= 30))
        .select("event_id", "event_type")
    )
    # the operator's output schema is fixed (key, time, payload,
    # admitted), so event_id rides in the payload and is split back out
    waves = [
        ev.filter(F.col("event_id").between(lo, lo + 9)).select(
            F.lit(key).alias("key"),
            (F.lit(t0) + F.col("event_id") * 0.001).alias("event_time_s"),
            F.concat(
                F.col("event_id").cast("string"), F.lit("|"), F.col("event_type")
            ).alias("payload"),
        )
        for key, lo, t0 in (("a", 1, 1.0), ("b", 11, 2.0), ("a", 21, 1.0))
    ]
    res = _memory_run(
        spark,
        "q_rt1_",
        lambda src: stateful.rate_limit(
            arrival_waves(spark, src, waves),
            capacity=5.0,
            refill_per_sec=0.0,
            idle_timeout_ms=1,
        ),
        no_data_batches=False,
    )
    split = F.split(F.col("payload"), r"\|", 2)
    return res.select(
        "key",
        split.getItem(0).cast("long").alias("event_id"),
        split.getItem(1).alias("payload"),
        "admitted",
    ).orderBy("event_id")


@query(
    "q_sx1_suffix_array_order",
    # The order-preserving distributed suffix array itself (q_sa1
    # attests the equality/fingerprint tier): rank of every token
    # suffix across the whole corpus, dense over distinct suffix
    # contents. DuckDB replays it directly — lists compare
    # lexicographically, so the rank is one dense_rank over the
    # suffix slices. Any drift in the doubling rounds, the sentinel
    # handling for short tails, or the range-partitioned dense rank
    # (offset arithmetic across partitions) breaks thousands of rank
    # values at once.
    "WITH tk AS (SELECT doc_id, list_filter(string_split_regex(trim(text), "
    "'\\s+'), x -> x <> '') AS t FROM documents), "
    "pos AS (SELECT doc_id, t, unnest(range(len(t))) AS p FROM tk), "
    "sfx AS (SELECT doc_id, p, list_slice(t, p + 1, len(t)) AS suffix FROM pos) "
    "SELECT doc_id, p AS pos, "
    "CAST(dense_rank() OVER (ORDER BY suffix) - 1 AS BIGINT) AS rank "
    "FROM sfx ORDER BY doc_id, pos",
    tags=("dedup", "suffixarray"),
)
def q_sx1(spark, sf_dir):
    # operators/suffixarray.suffix_array: Manber-Myers prefix doubling,
    # ceil(log2(max doc length)) rounds of one per-doc lead + one
    # range-partitioned global dense rank (bounded per-partition offset
    # collect — never a single-reducer window). Equal suffixes across
    # documents share a rank on both engines (dense over contents).
    from electrician_spark.operators import suffixarray as sa_ops

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        sa_ops.suffix_array(docs)
        .select("doc_id", "pos", F.col("rank").cast("long"))
        .orderBy("doc_id", "pos")
    )


@query(
    "q_wm1_watermark_late_drop",
    # REAL event-time watermark semantics on a REAL four-micro-batch
    # stream, append mode: (a) LATE-DATA DROP — the id-11 row arrives
    # two batches after its 10-minute window closed (watermark is past
    # the window end under either one- or two-batch watermark commit
    # lag, both of which Spark exhibits under availableNow), so it
    # must not appear in any emitted count; (b) FINALIZATION — a
    # window emits exactly once, when the watermark passes its end
    # (the far-future fence in batch 4 finalizes every data window);
    # (c) RETENTION — the fence's own window is never finalized and
    # must be ABSENT from the output. The oracle is the closed-form
    # window census of the non-late, non-fence rows.
    "WITH m AS (SELECT event_id, event_type, "
    "CASE WHEN event_id <= 8 THEN 60 * event_id "
    "WHEN event_id = 9 THEN 700 WHEN event_id = 10 THEN 1250 "
    "WHEN event_id = 12 THEN 1300 WHEN event_id = 13 THEN 1320 "
    "WHEN event_id = 14 THEN 1340 END AS off "
    "FROM events WHERE event_id BETWEEN 1 AND 14 AND event_id <> 11) "
    "SELECT CAST(1699999800 + (off // 600) * 600 AS BIGINT) AS w_start, "
    "CAST(count(*) AS BIGINT) AS n, "
    "min(event_id) AS min_id, max(event_id) AS max_id, "
    "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_click "
    "FROM m GROUP BY 1 ORDER BY 1",
    tags=("streaming", "window"),
)
def q_wm1(spark, sf_dir):
    # streaming: withWatermark('ts', '10 minutes') -> 10-minute
    # tumbling window -> append-mode memory sink over four arrival
    # waves. Window starts surface as epoch seconds (timestamp->long
    # cast), so the comparison is timezone-independent under any driver
    # session; T0 is 600-aligned so the closed-form bucket arithmetic
    # matches Spark's epoch-aligned windows. Event payloads
    # (event_type) come from the events table.
    from electrician_spark.streaming.sources import arrival_waves

    off = {i: 60 * i for i in range(1, 9)}
    off.update({9: 700, 10: 1250, 11: 300, 12: 1300, 13: 1320, 14: 1340, 15: 99990})
    ev = (
        _t(spark, sf_dir, "events")
        .filter((F.col("event_id") >= 1) & (F.col("event_id") <= 15))
        .select("event_id", "event_type", _epoch_ts(1_699_999_800, off).alias("ts"))
    )
    waves = [
        list(range(1, 11)),  # windows 0-2 incl. the max pusher
        [12, 13, 14],        # window 2 continues
        [11],                # LATE: window 0 closed two batches ago
        [15],                # fence: finalizes all data windows
    ]

    def build(src):
        stream = arrival_waves(spark, src, [ev.filter(F.col("event_id").isin(*w)) for w in waves])
        return (
            stream.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes"))
            .agg(
                F.count("*").alias("n"),
                F.min("event_id").alias("min_id"),
                F.max("event_id").alias("max_id"),
                F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
                .cast("long")
                .alias("n_click"),
            )
        )

    return (
        _memory_run(spark, "q_wm1_", build)
        .select(
            F.col("window.start").cast("long").alias("w_start"),
            "n",
            "min_id",
            "max_id",
            "n_click",
        )
        .orderBy("w_start")
    )


@query(
    "q_dw1_dedupe_within_watermark",
    # W8's streaming form: dropDuplicatesWithinWatermark on a REAL five-micro-
    # batch stream attests all three state behaviors at once:
    # (a) DROP — a duplicate key arriving while the key's state is
    # retained (id 3, and id 8 after the eviction wave) never reaches
    # the sink; (b) EVICTION — once the watermark passes first-arrival
    # ts + delay the key's state is gone, so the id-7 re-arrival of
    # 'a' IS re-admitted (without eviction it would be dropped: its
    # payload differs from id 1's, so a leak is visible in the value
    # hash); (c) BOUNDED state — the fence keys advance the watermark
    # far past every data key's expiry under either the one- or
    # two-batch watermark-commit lag Spark exhibits with availableNow
    # (two fence batches, so the lag cannot change the outcome).
    # Oracle = the closed-form census of the admitted arrivals.
    "SELECT CASE WHEN event_id IN (1, 7) THEN 'a' WHEN event_id = 2 THEN 'b' "
    "WHEN event_id = 4 THEN 'c' WHEN event_id = 5 THEN 'f' ELSE 'g' END AS key, "
    "event_id, event_type AS payload, "
    "CAST(1700000000 + CASE event_id WHEN 1 THEN 0 WHEN 2 THEN 60 WHEN 4 THEN 180 "
    "WHEN 5 THEN 4200 WHEN 6 THEN 4300 ELSE 4100 END AS BIGINT) AS ts_epoch "
    "FROM events WHERE event_id IN (1, 2, 4, 5, 6, 7) ORDER BY event_id",
    tags=("streaming", "window", "dedup"),
)
def q_dw1(spark, sf_dir):
    # streaming/windows.dedupe_within_watermark (withWatermark ->
    # dropDuplicatesWithinWatermark) over five arrival waves, one
    # micro-batch each. Schedule (delay = 10 min, epoch-offset seconds):
    # b0: a@0 (id1), b@60 (id2) -> both admitted
    # b1: a@120 (id3, dup while state alive) -> DROPPED; c@180 (id4)
    # b2: f@4200 (id5, fence 1) -> admitted, watermark pusher
    # b3: g@4300 (id6, fence 2) -> admitted; forces the watermark
    #     commit past a/b/c's expiry even under two-batch lag
    # b4: a@4100 (id7) -> state evicted (wm >= 3600 > 0+600), ADMITTED
    #     AGAIN; f@4210 (id8, dup of the live fence key, expiry 4800 >
    #     wm) -> DROPPED
    from electrician_spark.streaming import windows as swin
    from electrician_spark.streaming.sources import arrival_waves

    ev = _t(spark, sf_dir, "events").filter(
        (F.col("event_id") >= 1) & (F.col("event_id") <= 8)
    )
    key = (
        F.when(F.col("event_id").isin(1, 3, 7), "a")
        .when(F.col("event_id") == 2, "b")
        .when(F.col("event_id") == 4, "c")
        .when(F.col("event_id").isin(5, 8), "f")
        .otherwise("g")
    )
    off = {1: 0, 2: 60, 3: 120, 4: 180, 5: 4200, 6: 4300, 7: 4100, 8: 4210}
    rows = ev.select(
        key.alias("key"),
        _epoch_ts(1_700_000_000, off).cast("double").alias("ts_epoch"),
        F.col("event_id"),
        F.col("event_type").alias("payload"),
    )
    schedule = [(1, 2), (3, 4), (5,), (6,), (7, 8)]
    waves = [rows.filter(F.col("event_id").isin(*ids)) for ids in schedule]
    out = _memory_run(
        spark,
        "q_dw1_",
        lambda src: swin.dedupe_within_watermark(
            arrival_waves(spark, src, waves).withColumn("ts", F.col("ts_epoch").cast("timestamp")),
            ["key"],
            "ts",
            "10 minutes",
        ),
    )
    return out.select(
        "key",
        "event_id",
        "payload",
        F.col("ts").cast("long").alias("ts_epoch"),
    ).orderBy("event_id")


@query(
    "q_lr1_longest_repeated_run",
    # Longest duplicated token run, cross-checked by two UNRELATED
    # algorithms: Spark binary-searches the run length over doubling
    # window fingerprints (O(log maxlen) bounded probes over one
    # materialized ladder); DuckDB computes the classic suffix-array
    # identity — the max LCP over ADJACENT lexicographically-sorted
    # suffixes. n_sites (positions whose longest-length window occurs
    # >= 2 times) pins the multiplicity as well as the length.
    "WITH tk AS (SELECT doc_id, list_filter(string_split_regex(trim(text), "
    "'\\s+'), x -> x <> '') AS t FROM documents), "
    "pos AS (SELECT doc_id, t, unnest(range(len(t))) AS p FROM tk), "
    "sfx AS (SELECT list_slice(t, p + 1, len(t)) AS suffix FROM pos), "
    "srt AS (SELECT suffix, lag(suffix) OVER (ORDER BY suffix) AS prv FROM sfx), "
    "lcp AS (SELECT CASE WHEN prv IS NULL THEN 0 ELSE "
    "coalesce((SELECT min(i) - 1 FROM (SELECT unnest(range(1, "
    "least(len(suffix), len(prv)) + 2)) AS i) "
    "WHERE i <= least(len(suffix), len(prv)) AND suffix[i] <> prv[i]), "
    "least(len(suffix), len(prv))) END AS l FROM srt), "
    "big AS (SELECT CAST(max(l) AS BIGINT) AS longest FROM lcp), "
    "wins AS (SELECT md5(array_to_string(list_slice(t, p + 1, p + longest), "
    "chr(31))) AS fp FROM pos, big WHERE longest > 0 AND p + longest <= len(t)), "
    "g AS (SELECT fp, count(*) AS n FROM wins GROUP BY fp HAVING count(*) >= 2) "
    "SELECT big.longest, CAST(coalesce((SELECT sum(n) FROM g), 0) AS BIGINT) "
    "AS n_sites FROM big",
    tags=("dedup", "suffixarray"),
)
def q_lr1(spark, sf_dir):
    # operators/suffixarray.longest_repeated_run (binary-search LCP
    # over the shared doubling ladder) + a window-fingerprint census
    # at the found length. Different algorithm families on each side —
    # agreement is only possible if both the ladder fingerprints and
    # the search logic are exactly right.
    from electrician_spark.operators import suffixarray as sa_ops

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    longest = sa_ops.longest_repeated_run(docs)
    if longest <= 0:
        return spark.createDataFrame([(0, 0)], "longest long, n_sites long")
    fps = sa_ops.window_fingerprints(docs, longest)
    return (
        fps.groupBy("fp")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .agg(
            F.lit(longest).cast("long").alias("longest"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_sites"),
        )
    )


@query(
    "q_pb1_proto_envelope",
    # PROTOBUF RELAY-ENVELOPE WIRE CODEC (functions/protowire.py —
    # the reference's actual wire format, WrappedPayload,
    # proto/electrician_relay.proto:16-43): wrap 500 deterministic
    # orders into envelopes, serialize each to proto3 bytes
    # (varint + length-delimited, pure Python — no jar/codegen),
    # reconstruct the envelope FROM THE BYTES ALONE, and unwrap. The
    # oracle replays every surviving value: the record key decoded
    # from the payload bytes (round-trip proof), the per-ordering-key
    # seq (varint field 6), the content-derived sha256 id (field 1),
    # the TTL timestamp (field 23 Timestamp sub-message → epoch), and
    # the EXACT wire byte length — 96 fixed bytes (66 id + 8 ts + 2
    # payload framing + 2 seq + 6 payload_type + 3 ordering_key
    # framing + 9 expires_at) + payload-json + custkey lengths, which
    # pins the tag/varint layout arithmetic byte-for-byte. (Bounds
    # making every length prefix 1 byte hold by construction: json
    # < 128 chars, seq <= 3 in this subset, epoch seconds in the
    # 5-byte varint band.)
    "WITH s AS (SELECT o_orderkey, o_custkey FROM orders "
    "ORDER BY o_orderkey LIMIT 500), "
    "e AS (SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS ck, "
    "'{\"o_orderkey\":' || o_orderkey || '}' AS js FROM s), "
    "q AS (SELECT *, CAST(row_number() OVER (PARTITION BY ck ORDER BY js) "
    "AS BIGINT) AS seq FROM e) "
    "SELECT o_orderkey, seq, sha256(js || seq || ck) AS id, "
    "CAST(96 + length(js) + length(ck) AS BIGINT) AS wire_len, "
    "CAST(1705323600 AS BIGINT) AS exp_epoch "
    "FROM q ORDER BY o_orderkey",
    tags=("codec", "envelope"),
)
def q_pb1(spark, sf_dir):
    # envelope.wrap → to_wire('proto') → from_wire (bytes only) →
    # unwrap. ts fixed at 2024-01-15 12:00:00 UTC (epoch 1705320000,
    # a 5-byte varint), ttl 3600 s; dedupe_key NULL (absent on the
    # wire — proto3 default omission), compression/encryption none
    # (metadata absent).
    from electrician_spark import envelope

    base = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
        .limit(500)
    )
    env = envelope.wrap(
        base,
        ["o_orderkey"],
        ordering_key=F.col("o_custkey").cast("string"),
        ts=TS("2024-01-15 12:00:00"),
        ttl_seconds=3600,
    )
    w = envelope.to_wire(env, "proto").select("wire")
    dec = envelope.from_wire(
        w.withColumn("wire_len", F.length("wire").cast("long")),
        keep=("wire_len",),
    )
    out = envelope.unwrap(dec, "o_orderkey long")
    return out.select(
        F.col("_decoded")["o_orderkey"].alias("o_orderkey"),
        "seq",
        "id",
        "wire_len",
        F.col("expires_at").cast("long").alias("exp_epoch"),
    ).orderBy("o_orderkey")


@query(
    "q_se1_stream_static_enrich",
    # STREAM-STATIC BROADCAST ENRICHMENT — the reference's core
    # correlation pattern (SURVEY §2.5 composition S6+C3: enrich a
    # live event stream with customer metadata read from a store;
    # key templates adapter/kafkaclient/templates.go:9-60 key the
    # enriched records). A REAL three-micro-batch order stream joins
    # a customer⋈nation dimension (itself a join — the C3 fan-in) as
    # a BROADCAST stream-static join: the stream never shuffles, the
    # dim ships once per executor, re-evaluated each micro-batch
    # (per-micro-batch BroadcastHashJoin is plan-pinned in
    # test_stream_joins). Oracle = the batch join over the same
    # deterministic order subset — stream-static enrichment is
    # batch-equivalent by construction for a static dim.
    "WITH s AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
    "ORDER BY o_orderkey LIMIT 600) "
    "SELECT s.o_orderkey, round(s.o_totalprice, 2) AS total, c.c_name, "
    "c.c_mktsegment AS mktsegment, n.n_name, "
    "c.c_mktsegment || '/' || CAST(s.o_orderkey AS VARCHAR) AS route_key "
    "FROM s JOIN customer c ON s.o_custkey = c.c_custkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "ORDER BY s.o_orderkey",
    tags=("streaming", "join"),
)
def q_se1(spark, sf_dir):
    # streaming/joins.enrich_stream_static over three arrival waves
    # (200 orders each, deterministic subset = first 600 by
    # o_orderkey). The dim is customer⋈nation built batch-side from the
    # same sf_dir; route_key is the reference's '{field}' key-template
    # composition.
    from electrician_spark.streaming import joins as sjoins
    from electrician_spark.streaming.sources import arrival_waves

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    first = orders.select("o_orderkey").orderBy("o_orderkey").limit(600)
    keys = [r.o_orderkey for r in first.collect()]  # bounded: 600 keys
    waves = [orders.filter(F.col("o_orderkey").isin(keys[lo : lo + 200])) for lo in (0, 200, 400)]
    dim = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("c_custkey").alias("o_custkey"),
            "c_name",
            "c_mktsegment",
            "n_name",
        )
    )

    def build(src):
        stream = arrival_waves(spark, src, waves)
        return sjoins.enrich_stream_static(stream, dim, ["o_custkey"]).select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            "c_name",
            F.col("c_mktsegment").alias("mktsegment"),
            "n_name",
            F.concat_ws("/", F.col("c_mktsegment"), F.col("o_orderkey")).alias("route_key"),
        )

    return _memory_run(spark, "q_se1_", build).orderBy("o_orderkey")


def _sj_interval_join(spark, sf_dir, prefix, how):
    """The q_sj1/q_sj2 run: an impression stream interval-joined to a
    click stream (``how`` join, click_ts in [imp_ts, imp_ts + 5 min],
    10-minute watermarks on both sides).

    Schedule (epoch offsets, delay = 10 min, interval [0s, 300s]):
      L b0: a@0(id1) b@60(id2) c@120(id3) e@100(id4); b1: zl@4000(id9)
      L b2: zl2@4100(id10)
      R b0: a@100(id5, same-batch match) e@1000(id7, dt 900 — out of
            interval); b1: b@300(id6, cross-batch match) zr@4000(id11)
      R b2: zr2@4100(id12); b3: c@200(id8 — LATE: watermark 3500 by
            now, and c's left state evicted once wm > 120+300)
    Fences ride TWO batches per side (zl/zl2, zr/zr2) so one- vs
    two-batch watermark-commit lag cannot change any outcome; either
    lag leaves the final committed watermark ≥ 3400, far past every
    data row's eviction bound and far short of the fences' own
    (4300/4400)."""
    import os

    from electrician_spark.streaming import joins as sjoins
    from electrician_spark.streaming.sources import arrival_waves

    ev = _t(spark, sf_dir, "events").filter(
        (F.col("event_id") >= 1) & (F.col("event_id") <= 12)
    )
    key = (
        F.when(F.col("event_id").isin(1, 5), "a")
        .when(F.col("event_id").isin(2, 6), "b")
        .when(F.col("event_id").isin(3, 8), "c")
        .when(F.col("event_id").isin(4, 7), "e")
        .when(F.col("event_id") == 9, "zl")
        .when(F.col("event_id") == 10, "zl2")
        .when(F.col("event_id") == 11, "zr")
        .otherwise("zr2")
    )
    off = {
        1: 0, 2: 60, 3: 120, 4: 100,          # impressions
        5: 100, 6: 300, 7: 1000, 8: 200,      # clicks
        9: 4000, 10: 4100, 11: 4000, 12: 4100,  # fences
    }
    rows = ev.select(
        key.alias("key"),
        _epoch_ts(1_700_000_000, off).cast("double").alias("ts_epoch"),
        F.col("event_id"),
        F.col("event_type").alias("etype"),
    )

    def side(src, waves, idc, tc, tsc):
        return arrival_waves(
            spark, src, [rows.filter(F.col("event_id").isin(*ids)) for ids in waves]
        ).select(
            "key",
            F.col("event_id").alias(idc),
            F.col("etype").alias(tc),
            F.col("ts_epoch").cast("timestamp").alias(tsc),
        )

    def build(src):
        left = side(
            os.path.join(src, "imp"), [(1, 2, 3, 4), (9,), (10,)], "l_id", "imp_type", "l_ts"
        )
        right = side(
            os.path.join(src, "clk"), [(5, 7), (6, 11), (12,), (8,)], "r_id", "click_type", "r_ts"
        )
        return sjoins.interval_join(
            left,
            right,
            keys=["key"],
            left_ts="l_ts",
            right_ts="r_ts",
            lower="0 seconds",
            upper="5 minutes",
            left_delay="10 minutes",
            right_delay="10 minutes",
            how=how,
        ).select(
            "key",
            "l_id",
            "r_id",
            "imp_type",
            "click_type",
            (F.col("r_ts").cast("long") - F.col("l_ts").cast("long")).alias("dt_sec"),
        )

    return _memory_run(spark, prefix, build).orderBy("key")


@query(
    "q_sj1_stream_stream_interval",
    # STREAM-STREAM INTERVAL JOIN with watermark state eviction —
    # impression→click attribution on TWO real file streams (three and
    # four arrival waves), inner join on key with
    # click_ts in [imp_ts, imp_ts + 5 min], 10-minute watermarks both
    # sides. Attested at once: (a) SAME-BATCH match (key a: imp and
    # click in batch 0, dt=100s); (b) CROSS-BATCH match through
    # retained state (key b: imp in batch 0, click in batch 1,
    # dt=240s); (c) INTERVAL bound — key e's click at dt=900s > 300s
    # never matches though both rows are fresh and the key is equal;
    # (d) EVICTION/LATENESS — key c's click arrives in the last batch
    # with event time far behind the watermark (fence rows on both
    # sides pushed it past every data row under either one- or
    # two-batch commit lag), so the pair a batch join WOULD produce is
    # absent; (e) fences (disjoint keys per side) never emit. Oracle =
    # the closed-form census of exactly the two delivered pairs, with
    # payloads tied to the events table.
    "SELECT CASE WHEN l.event_id = 1 THEN 'a' ELSE 'b' END AS key, "
    "l.event_id AS l_id, r.event_id AS r_id, "
    "l.event_type AS imp_type, r.event_type AS click_type, "
    "CAST(CASE WHEN l.event_id = 1 THEN 100 ELSE 240 END AS BIGINT) AS dt_sec "
    "FROM events l JOIN events r ON (l.event_id = 1 AND r.event_id = 5) "
    "OR (l.event_id = 2 AND r.event_id = 6) ORDER BY key",
    tags=("streaming", "join"),
)
def q_sj1(spark, sf_dir):
    # streaming/joins.interval_join (inner) — see _sj_interval_join for
    # the schedule.
    return _sj_interval_join(spark, sf_dir, "q_sj1_", "inner")


@query(
    "q_sj2_interval_join_outer",
    # LEFT-OUTER stream-stream interval join — the same two-stream
    # fixture and interval as q_sj1, how="left". What only the outer
    # form can attest: NULL-PADDED EMISSION IS GATED ON THE EVICTION
    # CLOCK, not on end-of-stream. (a/b) the two matched pairs emit as
    # in q_sj1; (c) key c's impression (@120) never matches (its click
    # arrives late and is watermark-dropped) and emits a null-padded
    # row once the watermark passes 120+300s; (d) key e's impression
    # (@100) has a fresh but out-of-interval click (dt=900s) and emits
    # its null row once wm > 400s; (e) the LEFT fences zl@4000/zl2@4100
    # are equally unmatched but their eviction bounds (4300/4400) sit
    # BEYOND the final committed watermark (≥3400, ≤3500 under any
    # commit lag), so they are still in state at stream end and emit
    # NOTHING — null rows come from watermark-proven non-matches only,
    # never from draining leftover state. Oracle = the closed-form
    # left-join census over the events table: matched payloads for
    # a/b, NULL right columns for c/e, fence rows excluded.
    "SELECT CASE l.event_id WHEN 1 THEN 'a' WHEN 2 THEN 'b' "
    "WHEN 3 THEN 'c' ELSE 'e' END AS key, "
    "l.event_id AS l_id, r.event_id AS r_id, "
    "l.event_type AS imp_type, r.event_type AS click_type, "
    "CAST(CASE WHEN l.event_id = 1 THEN 100 WHEN l.event_id = 2 "
    "THEN 240 END AS BIGINT) AS dt_sec "
    "FROM events l LEFT JOIN events r ON (l.event_id = 1 AND r.event_id = 5) "
    "OR (l.event_id = 2 AND r.event_id = 6) "
    "WHERE l.event_id IN (1, 2, 3, 4) ORDER BY key",
    tags=("streaming", "join"),
)
def q_sj2(spark, sf_dir):
    # streaming/joins.interval_join (left outer) — see _sj_interval_join
    # for the schedule.
    return _sj_interval_join(spark, sf_dir, "q_sj2_", "left")
