"""The frozen bench artifacts must equal what the live rows train —
training-code drift regenerates red, not a silently-stale bench."""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import functions as F

from electrician_spark.benchvariants import ARTIFACT_DIR, BENCH_VARIANTS
from electrician_spark.queries import REGISTRY
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_langid_artifact_matches_live_training(spark, tmp_path):
    from electrician_spark.io import read_table
    from electrician_spark.operators import langid

    docs = read_table(spark, SF_ORACLE, "documents").select("doc_id", "lang", "text")
    live = langid.train_langid(
        docs.filter(F.col("doc_id") % 5 != 0), n=2, alpha=0.5, max_grams=300
    )
    art = os.path.join(ARTIFACT_DIR, f"langid_{os.path.basename(SF_ORACLE)}.json")
    frozen = langid.load_langid(art)
    # save/load round-trip the LIVE model and compare serialized forms —
    # the canonical equality the loaders themselves define
    p = str(tmp_path / "m.json")
    langid.save_langid(live, p)
    assert json.load(open(p)) == json.load(open(art)), (
        "training code drifted from the committed artifact — re-run "
        "tools/freeze_bench_artifacts.py"
    )
    assert frozen is not None


def test_unigram_artifact_matches_live_training(spark, tmp_path):
    from electrician_spark.functions import tokenizer as tk
    from electrician_spark.queries import _WP_MINI_CORPUS

    mini = spark.createDataFrame([(t,) for t in _WP_MINI_CORPUS], "text string")
    model = tk.train_unigram_tokenizer(mini, vocab_size=60, max_piece_len=6, em_iters=2)
    qm = tk.quantize_logprobs(model, bits=20)
    p = str(tmp_path / "u.json")
    tk.save_tokenizer(p, "unigram", qm)
    art = os.path.join(ARTIFACT_DIR, "unigram_q_ug1.json")
    assert json.load(open(p)) == json.load(open(art)), (
        "training code drifted from the committed artifact — re-run "
        "tools/freeze_bench_artifacts.py"
    )


def test_wordpiece_bpe_artifacts_match_live_training(spark, tmp_path):
    from electrician_spark.functions import tokenizer as tk
    from electrician_spark.queries import _WP_MINI_CORPUS

    mini = spark.createDataFrame([(t,) for t in _WP_MINI_CORPUS], "text string")
    for kind, artifact, train in (
        ("wordpiece", "wordpiece_q_wp1.json",
         lambda: tk.train_wordpiece_vocab(mini, vocab_size=70, min_count=1)),
        ("bpe", "bpe_q_bp1.json",
         lambda: tk.train_bpe_merges(mini, num_merges=40, min_count=1)),
    ):
        p = str(tmp_path / f"{kind}.json")
        tk.save_tokenizer(p, kind, train())
        art = os.path.join(ARTIFACT_DIR, artifact)
        assert json.load(open(p)) == json.load(open(art)), (
            f"{kind} training code drifted from the committed artifact — "
            "re-run tools/freeze_bench_artifacts.py"
        )


def test_variant_output_equals_live_row(spark):
    # at the SF the artifact was frozen for, the variant is
    # row-identical to the live correctness row (deterministic training)
    for name, fn in BENCH_VARIANTS.items():
        live = [tuple(r) for r in REGISTRY[name].spark(spark, SF_ORACLE).collect()]
        froz = [tuple(r) for r in fn(spark, SF_ORACLE).collect()]
        assert live == froz, name


def test_variant_falls_back_without_artifact(spark, tmp_path, monkeypatch):
    # unknown SF dir -> langid variant must run the live row, not fail
    import electrician_spark.benchvariants as bv

    monkeypatch.setattr(bv, "ARTIFACT_DIR", str(tmp_path))
    out = bv.q_x9_frozen(spark, SF_ORACLE)
    assert out.count() > 0


def test_resolve_variant_none_when_artifact_missing(tmp_path, monkeypatch):
    # bench.py records a frozen variant ONLY when resolve_variant is
    # non-None; a missing per-SF artifact must resolve to None so
    # live-trained timings are never attributed to the frozen posture
    # (r13 ADVICE item 1)
    import electrician_spark.benchvariants as bv

    # committed artifacts: per-SF langid resolves only at its SF;
    # the unigram artifact is SF-independent
    assert bv.resolve_variant("q_x9_trained_gate_pipeline", "/root/testdata/sf0.1")
    assert bv.resolve_variant("q_li1_langid_model", "/no/such/sf9") is None
    assert bv.resolve_variant("q_ug1_unigram_viterbi_encode", "/no/such/sf9")
    assert bv.resolve_variant("q_a1_pricing_summary", "/root/testdata/sf0.1") is None
    # with no artifacts at all, every variant resolves to None
    monkeypatch.setattr(bv, "ARTIFACT_DIR", str(tmp_path))
    for name in bv.BENCH_VARIANTS:
        assert bv.resolve_variant(name, "/root/testdata/sf0.1") is None


def test_artifact_rows_leave_no_temp_dir(spark, tmp_path, monkeypatch):
    """The rows that round-trip a trained model through a file delete the
    file's temp dir before they return: the loaded model lives in the
    driver, so the result never reads the file."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name in (
        "q_li1_langid_model",
        "q_x9_trained_gate_pipeline",
        "q_wp1_wordpiece_encode",
        "q_bp1_bpe_encode",
        "q_ug1_unigram_viterbi_encode",
    ):
        REGISTRY[name].spark(spark, SF_SMOKE).count()
        assert os.listdir(tmp_path) == [], name
