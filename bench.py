"""Benchmark harness — runs the headline declared queries and the
EXTRA_QUERIES series at $SPARK_GRAFT_SF_DIR (default: the sf0.1
fixture, see SF_DIR) on local[$SPARK_GRAFT_CPUS] and prints two JSON
lines: the per-query detail (also written to BENCH_DETAIL.json), then
the headline object, always last:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Per BASELINE.md measurement rules: median of RUNS runs after 1 warm-up,
single SparkSession, fixed shuffle partitions. Per-layer numbers (plan
construction, Catalyst, stages, shuffle, Python workers) come from
perfbench/, not from here.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import tempfile
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from electrician_spark.benchvariants import resolve_variant  # noqa: E402
from electrician_spark.queries import REGISTRY  # noqa: E402
from electrician_spark.session import cpu_budget, get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
DETAIL_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
# BASELINE.md's reference workload: 10M items x 256 B payload, one
# sha256 round per item.
SHA_ITEMS = 10_000_000

HEADLINE = [n for n, q in REGISTRY.items() if q.bench]
# Timed and reported separately from the 12 bench=True headline queries
# so the headline total stays comparable run over run while the
# heavyweight operators still get a tracked number. Every name must be a
# live registry row.
EXTRA_QUERIES = [
    "q_d6_dup_clusters",
    "q_aj1_asof_join",
    "q_rj1_range_join",
    "q_ht1_hypertable_rollup",
    "q_em1_unigram_hard_em",
    "q_x7_quality_filter_pipeline",
    "q_x9_trained_gate_pipeline",
    "q_n4_ann_ivf_probes",
    "q_d9_lsh_near_dup",
    "q_x8_curation_pipeline",
    "q_pb1_proto_envelope",
    "q_ch1_chunk_documents",
    "q_gq1_gopher_battery",
    "q_lm2_bigram_buckets",
    "q_pq1_pq_adc_topk",
    "q_c4_1_c4_cleaning",
    "q_px1_image_pixel_stats",
    "q_rz1_resize_media",
    "q_ir1_dsir_select",
    "q_ph1_image_phash",
    "q_rb1_robots_gate",
    "q_pg1_pagerank",
    "q_id1_incremental_dedup",
    "q_bl1_bloom_decontaminate",
    "q_sc1_span_corrupt",
    "q_fim1_fim_transform",
    "q_ex1_exif_census",
    "q_sv1_split_corpus",
    "q_wp1_wordpiece_encode",
    "q_or1_orc_roundtrip",
    "q_lb1_length_batches",
    "q_cm1_count_min",
    "q_bq1_binary_hamming_tier",
    "q_li1_langid_model",
    "q_cml1_chatml_render",
    "q_pp1_preference_pairs",
    "q_af1_audio_fingerprint",
    "q_hx1_html_main_text",
    "q_fc1_frozen_linear_scores",
    "q_aq1_audio_quality",
    "q_bp1_bpe_encode",
    "q_ug1_unigram_viterbi_encode",
    "q_sa1_suffix_spans",
    "q_sx1_suffix_array_order",
    "q_sk2_salted_join",
    "q_ac1_blocklist_scan",
]


def _sf_label(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.0


def warm_python_workers(spark) -> None:
    """Spawn the Python worker pool once, outside all timings, so
    pandas-UDF queries measure steady-state compute, not worker fork +
    numpy import (a 5-15 s one-time cost that otherwise lands in
    whichever applyInPandas query runs first)."""

    def _warm(pdf):
        import numpy  # noqa: F401 — pre-import in the worker process

        return pdf

    spark.range(cpu_budget() * 4).repartition(cpu_budget()).groupBy("id").applyInPandas(
        _warm, "id long"
    ).count()


def _median_sec(run: Callable[[bool], object]) -> float:
    """Median wall seconds of RUNS timed calls ``run(True)`` after one
    untimed warm-up call ``run(False)``."""
    run(False)
    timings = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        run(True)
        timings.append(time.perf_counter() - t0)
    return statistics.median(timings)


def run_set(spark, query_names: list[str], variants_used: list[str]) -> dict[str, float]:
    """Median wall seconds per row. A row with a committed frozen
    artifact for this SF runs its production-posture variant (and is
    appended to ``variants_used``); every other row runs live."""
    results: dict[str, float] = {}
    for name in query_names:
        fn = resolve_variant(name, SF_DIR)
        if fn is not None:
            variants_used.append(name)
        else:
            fn = REGISTRY[name].spark

        def run(timed: bool) -> None:
            # The warm-up counts; the timed runs collect, so tiny
            # results include the Arrow transfer to the driver.
            df = fn(spark, SF_DIR)
            df.collect() if timed else df.count()

        results[name] = round(_median_sec(run), 4)
        # Between rows, outside all timed regions: drop the finished
        # row's plan references so the ContextCleaner can free its
        # checkpointed blocks before the next row runs.
        gc.collect()
    return results


def sha256_items_per_sec(spark) -> int:
    """BASELINE.md's reference "processing" workload as a codegen'd
    column chain: SHA_ITEMS payloads of 256 B, one sha256 each."""
    from pyspark.sql import functions as F

    df = (
        spark.range(SHA_ITEMS)
        .withColumn(
            "payload", F.repeat(F.concat(F.lit("x"), (F.col("id") % 97).cast("string")), 64)
        )
        .withColumn("h", F.sha2(F.col("payload"), 256))
        .filter(F.length("h") == 64)
    )

    def run(_timed: bool) -> None:
        assert df.count() == SHA_ITEMS

    return int(SHA_ITEMS / _median_sec(run))


def write_detail(path: str, line: str) -> None:
    """Replace ``path`` with ``line`` atomically: a write that fails or is
    killed leaves the previous file whole."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), prefix=".BENCH_DETAIL.json.")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(line + "\n")
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise


def main() -> None:
    spark = get_session("electrician-spark-bench", cpus=cpu_budget())
    warm_python_workers(spark)

    sha = sha256_items_per_sec(spark)
    variants_used: list[str] = []
    results = run_set(spark, HEADLINE, variants_used)
    extras = run_set(spark, EXTRA_QUERIES, variants_used)

    detail = {
        "extra_queries": extras,
        "bench_variants": variants_used,
        # BENCH_DETAIL is overwritten by every run, sf0.01 smokes
        # included: the SF stamp tells a committed file's series apart
        "sf": _sf_label(SF_DIR),
        "sf_dir": SF_DIR,
    }
    # A reader of stdout may keep only a bounded tail, so the bulky
    # per-query detail goes FIRST and the parseable headline object
    # stays compact and LAST.
    detail_line = json.dumps(detail)
    print(detail_line)
    try:
        write_detail(DETAIL_PATH, detail_line)
    except OSError as e:
        print(f"BENCH_DETAIL.json not written: {e}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": round(sum(results.values()), 4),
                "unit": "sec",
                "queries": results,
                "extras_total_sec": round(sum(extras.values()), 4),
                "sha256_pipeline_items_per_sec": sha,
                "sf": _sf_label(SF_DIR),
                "cpus": cpu_budget(),
                "runs": RUNS,
            }
        )
    )


if __name__ == "__main__":
    main()
