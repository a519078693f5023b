"""Incremental dedup against a persisted index (operators/incremental.py):
decision semantics, determinism, index round-trip, and the
no-index-shuffle plan posture."""

import hashlib

from pyspark.sql import functions as F

from electrician_spark.operators import incremental
from electrician_spark.streaming.sinks import await_stream

K, BANDS, N = 16, 4, 3

INDEX_DOCS = {
    1: "the quick brown fox jumps over the lazy dog near the river bank",
    2: "stock market prices fell sharply in early trading on tuesday",
    3: "a recipe for sourdough bread with a long cold fermentation step",
}
BATCH_DOCS = {
    10: "the quick brown fox jumps over the lazy dog near the river bank",  # exact dup of 1
    11: "  THE quick   brown fox jumps over the lazy dog near the river bank ",  # fp-normalized dup of 1
    12: "stock market prices fell sharply in early trading on wednesday",  # near dup of 2
    13: "completely unrelated text about astronomy and telescope mirrors",  # fresh
    14: "hi",  # shingle-less: exact machinery only
}


def _fp(text: str) -> str:
    return hashlib.md5(" ".join(text.strip().lower().split()).encode()).hexdigest()


def _sig(text: str) -> list[str] | None:
    toks = text.strip().split()
    sh = {" ".join(toks[i : i + N]) for i in range(len(toks) - N + 1)}
    if not sh:
        return None
    return [min(hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in sh) for i in range(K)]


def _bands(sig: list[str]) -> set[tuple[int, str]]:
    r = K // BANDS
    return {
        (b, hashlib.md5("|".join(sig[b * r : (b + 1) * r]).encode()).hexdigest())
        for b in range(BANDS)
    }


def _df(spark, docs):
    return spark.createDataFrame(
        [(k, v) for k, v in docs.items()], "doc_id long, text string"
    )


def test_build_index_matches_python_replay(spark):
    rows = {
        r.doc_id: r
        for r in incremental.build_dedup_index(_df(spark, INDEX_DOCS)).collect()
    }
    for did, text in INDEX_DOCS.items():
        assert rows[did].fp == _fp(text)
        sig = _sig(text)
        got = [rows[did][f"h{i}"] for i in range(K)]
        assert got == sig


def test_incremental_decisions(spark):
    index = incremental.build_dedup_index(_df(spark, INDEX_DOCS))
    out = {
        r.doc_id: r
        for r in incremental.incremental_dedup(
            _df(spark, BATCH_DOCS), index, sim_threshold=0.5
        ).collect()
    }
    assert out[10].dup_kind == "exact" and out[10].matched_id == 1
    # fingerprint normalization (case/whitespace) still lands exact
    assert out[11].dup_kind == "exact" and out[11].matched_id == 1
    assert out[12].dup_kind == "near" and out[12].matched_id == 2
    # estimator replay: matching minhash components / K
    est = sum(a == b for a, b in zip(_sig(BATCH_DOCS[12]), _sig(INDEX_DOCS[2]))) / K
    assert est >= 0.5
    assert out[12].est_jaccard == f"{round(est, 6):.6g}" or float(out[12].est_jaccard) == round(est, 6)
    assert out[13].dup_kind is None and out[13].matched_id is None
    assert out[14].dup_kind is None  # shingle-less, not in index


def test_exact_beats_near_and_determinism(spark):
    # a doc that is BOTH an exact dup (of 1) — exact must win
    batch = {20: INDEX_DOCS[1]}
    index = incremental.build_dedup_index(_df(spark, INDEX_DOCS))
    a = incremental.incremental_dedup(_df(spark, batch), index).collect()[0]
    b = incremental.incremental_dedup(_df(spark, batch), index).collect()[0]
    assert a.dup_kind == "exact" and a.est_jaccard is None
    assert a == b


def test_admit_and_next_round(spark):
    index = incremental.build_dedup_index(_df(spark, INDEX_DOCS))
    res = incremental.incremental_dedup(_df(spark, BATCH_DOCS), index)
    nxt = incremental.admit_batch(res, index)
    # admitted: 13 (fresh) + 14 (shingle-less) join the 3 index docs
    assert sorted(r.doc_id for r in nxt.select("doc_id").collect()) == [1, 2, 3, 13, 14]
    # a SECOND batch containing doc 13's text is now an exact dup
    out = {
        r.doc_id: r
        for r in incremental.incremental_dedup(
            _df(spark, {30: BATCH_DOCS[13]}), nxt
        ).collect()
    }
    assert out[30].dup_kind == "exact" and out[30].matched_id == 13


def test_plan_has_no_sort_merge_join_and_broadcasts(spark):
    # production shape: the index is a STORED table (parquet), not a
    # live plan — materialize it so the pin sees the probe plan only
    index = incremental.build_dedup_index(_df(spark, INDEX_DOCS)).localCheckpoint()
    plan = (
        incremental.incremental_dedup(_df(spark, BATCH_DOCS), index)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan  # the index is probed, never shuffled for a join
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_streaming_incremental_dedup_across_microbatches(spark, tmp_path):
    """Real Structured Streaming run: two source files processed as
    separate micro-batches (maxFilesPerTrigger=1); a text duplicated
    across the batches — and duplicated WITHIN the second batch — must
    be admitted exactly once overall; the parquet index accumulates
    exactly the admitted rows."""
    import json

    src = tmp_path / "src"
    src.mkdir()
    texts = {
        1: "alpha beta gamma delta epsilon zeta",
        2: "one two three four five six seven",
        3: "alpha beta gamma delta epsilon zeta",   # cross-batch dup of 1
        4: "totally new content in the second file batch",
        5: "totally new content in the second file batch",  # within-batch dup of 4
    }
    with open(src / "a_first.json", "w") as f:
        for i in (1, 2):
            f.write(json.dumps({"doc_id": i, "text": texts[i]}) + "\n")
    with open(src / "b_second.json", "w") as f:
        for i in (3, 4, 5):
            f.write(json.dumps({"doc_id": i, "text": texts[i]}) + "\n")
    # FileStreamSource orders files by modification time — pin it so
    # "first file" really is the first micro-batch
    import os
    now = os.path.getmtime(src / "b_second.json")
    os.utime(src / "a_first.json", (now - 100, now - 100))

    admitted_rows = []

    def sink(df, _epoch):
        admitted_rows.extend((r.doc_id, r.text) for r in df.collect())

    index_path = str(tmp_path / "index")
    handler = incremental.incremental_dedup_sink(index_path, sink)
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .writeStream.foreachBatch(handler)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, 180)

    got = sorted(admitted_rows)
    # 1 and 2 admitted from batch one; 3 is a cross-batch dup; 4 wins
    # its within-batch tie with 5 (minimum id)
    assert got == [(1, texts[1]), (2, texts[2]), (4, texts[4])]
    idx = spark.read.parquet(index_path)
    assert sorted(r.doc_id for r in idx.select("doc_id").collect()) == [1, 2, 4]
    # and a THIRD run over the same index still rejects the dup text
    out = incremental.incremental_dedup(
        spark.createDataFrame([(9, texts[1])], "doc_id long, text string"), idx
    ).collect()[0]
    assert out.dup_kind == "exact" and out.matched_id == 1


def test_corpus_diff_statuses_and_duckdb_replay(spark):
    """corpus_diff: every status class on planted snapshots, equality
    with a DuckDB FULL OUTER JOIN replay of the same md5 fingerprint
    arithmetic (the r8 oracle shape)."""
    import duckdb
    from pyspark.sql import functions as F

    from electrician_spark.operators.incremental import corpus_diff

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "kept the same"), (4, "Spaced   Out")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(2, "gamma CHANGED"), (3, "kept the same"), (4, "spaced out"), (5, "brand new")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {
        1: "removed",
        2: "changed",
        3: "unchanged",
        4: "unchanged",  # fingerprint normalizes case/whitespace
        5: "added",
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE o(doc_id BIGINT, text VARCHAR)")
    con.execute("CREATE TABLE n(doc_id BIGINT, text VARCHAR)")
    for t, df in (("o", old), ("n", new)):
        for r in df.collect():
            con.execute(f"INSERT INTO {t} VALUES (?, ?)", [r.doc_id, r.text])
    fp = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"
    rows = con.execute(f"""
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN {fp.replace('text', 'o.text')} <> {fp.replace('text', 'n.text')}
                         THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    """).fetchall()
    assert {d: s for d, s in rows} == got


def test_sink_bootstrap_only_on_missing_path(spark, tmp_path):
    """A corrupt/unreadable index must FAIL the micro-batch (so the
    stream retries) rather than silently bootstrapping an empty index
    and re-admitting already-seen duplicates; a genuinely missing
    path still bootstraps."""
    import pytest

    def sink(df, _epoch):
        df.collect()

    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )

    # corrupt footer: a parquet "file" that is not parquet
    bad = tmp_path / "bad_index"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"definitely not parquet")
    handler = incremental.incremental_dedup_sink(str(bad), sink)
    with pytest.raises(Exception):
        handler(batch, 0)

    # missing path: bootstrap branch, batch admitted, index created
    missing = str(tmp_path / "fresh_index")
    handler2 = incremental.incremental_dedup_sink(missing, sink)
    handler2(batch, 0)
    assert spark.read.parquet(missing).count() == 1


def test_sink_bootstrap_on_empty_existing_dir(spark, tmp_path):
    """An index PATH that exists but holds no parquet files is 'no
    index yet' (UNABLE_TO_INFER_SCHEMA), not corruption — the sink
    must bootstrap, admit the batch, and create real index rows."""
    def sink(df, _epoch):
        df.collect()

    empty = tmp_path / "empty_index"
    empty.mkdir()
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    incremental.incremental_dedup_sink(str(empty), sink)(batch, 0)
    assert spark.read.parquet(str(empty)).count() == 1


def test_banding_config_rejected_when_degenerate(spark):
    # bands > num_hashes makes rows_per_band 0 (every band hash a
    # constant => all-pairs candidate join); a non-divisible split
    # silently drops trailing hashes. Both are config errors (r15
    # review finding).
    import pytest

    from electrician_spark.operators.dedup import minhash_lsh_pairs
    from electrician_spark.operators.incremental import build_dedup_index, incremental_dedup

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs(docs, num_hashes=16, bands=20)
    with pytest.raises(ValueError, match="divide"):
        minhash_lsh_pairs(docs, num_hashes=16, bands=5)
    index = build_dedup_index(docs.limit(0), num_hashes=16)
    with pytest.raises(ValueError, match="bands"):
        incremental_dedup(docs, index, num_hashes=16, bands=20)
