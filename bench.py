"""Benchmark harness — runs the headline declared queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Per BASELINE.md measurement rules: median of 3 runs after 1 warm-up,
single SparkSession, fixed shuffle partitions.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from electrician_spark.queries import REGISTRY  # noqa: E402
from electrician_spark.session import cpu_budget, get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

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


def main() -> None:
    names = [n for n, q in REGISTRY.items() if q.bench]
    spark = get_session("electrician-spark-bench", cpus=cpu_budget())

    # Session-level warm-up (outside all timings): spawn the Python
    # worker pool once so pandas-UDF queries measure steady-state
    # compute, not worker fork + numpy import (5-15 s one-time cost
    # that otherwise lands in whichever applyInPandas query runs first).
    def _warm(pdf):
        import numpy  # noqa: F401 — pre-import in the worker process

        return pdf

    spark.range(cpu_budget() * 4).repartition(cpu_budget()).groupBy("id").applyInPandas(
        _warm, "id long"
    ).count()

    # Ambient-drift calibration, INTERLEAVED (r10 verdict item 2): a
    # single ~0.1 s probe cannot anchor cross-run comparison — the
    # driver-captured and builder-captured series disagreed 2x
    # normalized on identical code because one tiny probe sample
    # flipped the denominator. Sample the fixed probes at >=5 points
    # spread across the whole series and publish median + IQR, so the
    # normalized headline is anchored on the series-wide ambient state
    # and the spread makes drift visible instead of silently dividing
    # through.
    from pyspark.sql import functions as CF

    cpu_samples: list[float] = []
    shuffle_samples: list[float] = []

    def sample_probes() -> None:
        # Lengthened cpu probe (r12 verdict item 5): the old 50M-row
        # probe ran ~0.2 s with IQR ~0.15 s — the probe's own noise made
        # normalized headlines swing ±30% while the raw series held
        # 2.6%. 24x the rows (50M -> 1.2B; xxhash64+max is cheap per
        # row, so the observed r13 committed samples read ~0.19-0.37 s
        # with min-of-2, not a literal 24x) puts scheduling jitter at a
        # small fraction of the median. NORMALIZATION REBASE: /cpu
        # numbers from r13 on use this denominator and are NOT
        # comparable to r12-and-earlier normalized records (raw series
        # remain comparable; SCALE.md bench-series note).
        # min-of-2 per sample point: the r13 four-run series showed the
        # remaining probe spread is NOT scheduling jitter but transient
        # JVM state at the sample point (samples taken right after the
        # heavy mid-series rows read ~2x the idle ones — GC debt from
        # the preceding query, which the min of two back-to-back runs
        # sheds; the lengthened probe already amortized the jitter).
        def _min2(thunk) -> float:
            ts = []
            for _ in range(2):
                t0 = time.perf_counter()
                thunk()
                ts.append(time.perf_counter() - t0)
            return round(min(ts), 4)

        cpu_samples.append(
            _min2(
                lambda: spark.range(1_200_000_000)
                .select(CF.max(CF.xxhash64("id")).alias("s"))  # max: no ANSI overflow
                .collect()
            )
        )
        # the shuffle probe gets the same ~3x lengthening: it is the
        # queries_normalized denominator, and its old ~0.8 s form
        # carried IQR ~50% of median under ambient load
        shuffle_samples.append(
            _min2(
                lambda: spark.range(30_000_000)
                .groupBy((CF.col("id") % 3_000_000).alias("k"))
                .agg(CF.count("*").alias("c"))
                .select(CF.max("c"))
                .collect()
            )
        )

    def _spread(xs: list[float]) -> tuple[float, float]:
        med = statistics.median(xs)
        if len(xs) >= 4:
            q = statistics.quantiles(xs, n=4)
            return round(med, 4), round(q[2] - q[0], 4)
        return round(med, 4), round(max(xs) - min(xs), 4)

    sample_probes()  # codegen warm-up for the probe plans…
    cpu_samples.clear()
    shuffle_samples.clear()
    sample_probes()  # …so the first RECORDED sample is steady-state

    # Production-posture variants (r12 verdict item 4): the two
    # live-training rows run their shared gate/encode chains from
    # committed frozen artifacts — train-once/reuse is the documented
    # model contract; the correctness rows keep training live. Which
    # rows ran a variant is recorded in BENCH_DETAIL.
    from electrician_spark.benchvariants import resolve_variant

    variants_used: list[str] = []

    def run_set(query_names: list[str]) -> dict[str, float]:
        results: dict[str, float] = {}
        for name in query_names:
            qd = REGISTRY[name]
            # resolve_variant returns None when no committed artifact
            # covers this SF — then the LIVE row runs and must not be
            # recorded as a frozen variant (provenance would otherwise
            # mislabel live-trained timings at non-default SFs)
            fn = resolve_variant(name, SF_DIR)
            if fn is not None:
                variants_used.append(name)
            else:
                fn = qd.spark
            timings: list[float] = []
            for i in range(RUNS + 1):  # first run is warm-up
                t0 = time.perf_counter()
                df = fn(spark, SF_DIR)
                # Force full execution without driver-side materialization
                # cost: count() over the (usually small) result still
                # executes the whole plan; collect tiny results to include
                # Arrow transfer.
                df.collect() if i else df.count()
                dt = time.perf_counter() - t0
                if i:
                    timings.append(dt)
            results[name] = round(statistics.median(timings), 4)
            # Between queries, OUTSIDE all timed regions: drop the
            # finished query's abandoned plan references so the
            # ContextCleaner can free lazily-checkpointed blocks.
            # Without this the series accumulates dead cache blocks
            # (measured pre-r12: +3 persistent RDDs per suffix-array
            # call, 3->19 over 8 calls) and later queries measure a
            # heap-pressured driver instead of their own cost — the
            # same hygiene any long-running production driver runs.
            gc.collect()
        return results

    # Reference benchmark-harness workload shape (BASELINE.md: 10M items
    # x 256 B payload, one sha256 round per item, 32 workers —
    # example/benchmark_example/processing/main.go): measure the same
    # pipeline as a codegen'd column chain and report items/s. The
    # reference repo publishes no result numbers; this records ours so
    # rounds are comparable against its own workload definition.
    # Measured TWICE — first thing after warm-up AND again at the very
    # end of the series — because r7 recorded an unexplained 5.5× drop
    # on this workload when it ran last (16.7M → 3.05M items/s vs a
    # 1.7× ambient factor); the two positions separate steady-state
    # throughput from end-of-series JVM state (GC/memory pressure).
    from pyspark.sql import functions as SF

    n_items = 10_000_000
    tput_df = (
        spark.range(n_items)
        .withColumn(
            "payload", SF.repeat(SF.concat(SF.lit("x"), (SF.col("id") % 97).cast("string")), 64)
        )
        .withColumn("h", SF.sha2(SF.col("payload"), 256))
        .filter(SF.length("h") == 64)
    )

    def measure_sha() -> int:
        timings = []
        for i in range(RUNS + 1):  # first run is warm-up
            t0 = time.perf_counter()
            assert tput_df.count() == n_items
            if i:
                timings.append(time.perf_counter() - t0)
        return int(n_items / statistics.median(timings))

    sha_first = measure_sha()
    sample_probes()

    results = run_set(names)
    sample_probes()

    mid = len(EXTRA_QUERIES) // 2
    extras = run_set(EXTRA_QUERIES[:mid])
    sample_probes()
    extras.update(run_set(EXTRA_QUERIES[mid:]))
    sample_probes()

    def _timed(thunk) -> float:
        timings = []
        for i in range(RUNS + 1):  # first run is warm-up
            t0 = time.perf_counter()
            thunk()
            if i:
                timings.append(time.perf_counter() - t0)
        return round(statistics.median(timings), 4)

    scan_probe = _timed(
        lambda: spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
        .select(CF.sum("l_extendedprice").alias("s"))
        .collect()
    )

    def _identity(pdf):
        return pdf

    pandas_probe = _timed(
        lambda: spark.range(2_000_000)
        .withColumn("g", CF.col("id") % 64)
        .groupBy("g")
        .applyInPandas(_identity, "id long, g long")
        .count()
    )

    # Second sha position: end of the full series. r7 and this round's
    # closing series both recorded a collapse HERE (3.0-3.6M items/s vs
    # 15M+ at the first position) that a 6-query checkpoint-heavy
    # series does NOT reproduce — so snapshot what end-of-series JVM
    # state looks like, then re-measure after an explicit driver+JVM
    # GC: if post-GC recovers, the mechanism is GC-reclaimable state
    # (broadcast/RDD blocks pinned by Python refs); if not, it's heap
    # fragmentation or ambient.

    sc = spark.sparkContext
    diag = {"persistent_rdds": sc._jsc.sc().getPersistentRDDs().size()}
    sha_last = measure_sha()  # second position: end of the full series
    # Two distinct mechanisms behind a nonzero count here (r10 probes):
    # ContextCleaner drains its weak-ref queue ASYNCHRONOUSLY (a second
    # GC cycle clears those), and long busy py4j sessions can LOSE
    # detach commands, stranding a handful of checkpoint RDDs behind
    # the JVM gateway map no amount of GC reclaims. Record the post-GC
    # steady state, then sweep the strandees (the series is over —
    # nothing replays those plans) and record what the sweep released.
    from electrician_spark.session import release_stranded_checkpoints

    for _ in range(3):
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(2)
        if sc._jsc.sc().getPersistentRDDs().size() == 0:
            break
    diag["persistent_rdds_post_gc"] = sc._jsc.sc().getPersistentRDDs().size()
    diag["stranded_released"] = release_stranded_checkpoints(spark)
    diag["sha_last_post_gc"] = measure_sha()
    sample_probes()  # final interleave point (>=6 samples total)

    # --- core-scaling attestation (r16 verdict item 2, ADDITIVE): at
    # sf0.1 every timed row sits at the per-job scheduling floor, so
    # the driver's low-vs-high-core comparison reads ~1.0 everywhere
    # and cannot detect a serialization regression (e.g. an accidental
    # single-partition window). Time the three headline dedup rows on
    # the deterministic 16x realistic-growth corpus (80k docs,
    # tools/r16_growth_probe.gen — big enough that cores separate:
    # measured 32c/8c ratios 1.3-1.7 here, >=2.6 at 64x, SCALE.md) and
    # emit ONE EXTRA JSON line; the driver's 32- and 8-core runs each
    # produce a comparable line. The existing lines are unchanged and
    # the parseable headline object stays LAST. Never allowed to break
    # the bench contract: any failure prints an error line instead.
    # Skippable via SPARK_GRAFT_CORE_SCALING=0.
    if os.environ.get("SPARK_GRAFT_CORE_SCALING", "1") != "0":
        try:
            import tempfile

            from tools.r16_growth_probe import gen as _growth_gen

            _groot = os.path.join(tempfile.gettempdir(), "spark_graft_growth_v1")
            _gdir = _growth_gen(_groot, 16, tables=("documents",))
            _cs: dict[str, float] = {}
            for _name in (
                "q_d2_ngram_jaccard",
                "q_d3_minhash_lsh",
                "q_d4_simhash",
            ):
                _fn = REGISTRY[_name].spark
                _ts = []
                for _i in range(3):  # warm-up + 2
                    _t0 = time.perf_counter()
                    _fn(spark, _gdir).collect()
                    if _i:
                        _ts.append(time.perf_counter() - _t0)
                _cs[_name] = round(statistics.median(_ts), 4)
                gc.collect()
            print(
                json.dumps(
                    {
                        "metric": "core_scaling",
                        "unit": "sec",
                        "corpus": "r16growth_16x",
                        "docs": 80_000,
                        "cpus": cpu_budget(),
                        "queries": _cs,
                    }
                )
            )
        except Exception as _ex:  # noqa: BLE001 — attestation only
            print(json.dumps({"metric": "core_scaling", "error": str(_ex)[:200]}))

    total = round(sum(results.values()), 4)
    cpu_probe, cpu_iqr = _spread(cpu_samples)
    shuffle_probe, shuffle_iqr = _spread(shuffle_samples)
    calibration = {
        "cpu_probe_sec": cpu_probe,
        "cpu_probe_iqr": cpu_iqr,
        "cpu_probe_n": len(cpu_samples),
        "scan_probe_sec": scan_probe,
        "shuffle_probe_sec": shuffle_probe,
        "shuffle_probe_iqr": shuffle_iqr,
        "pandas_probe_sec": pandas_probe,
        "headline_per_cpu_probe": round(total / cpu_probe, 3),
        "extras_per_cpu_probe": round(sum(extras.values()) / cpu_probe, 3),
    }
    # Per-query ratios against the shuffle probe (the probe whose
    # drift tracks where the real noise lives — GC + shuffle fetch),
    # so round-over-round per-query wins and regressions are provable
    # over ambient machine drift (r5 verdict item 8).
    detail = {
        "extra_queries": extras,
        "bench_variants": variants_used,
        "sha_diag": diag,
        "cpu_probe_samples": cpu_samples,
        "shuffle_probe_samples": shuffle_samples,
        "queries_normalized": {
            n: round(v / shuffle_probe, 3) for n, v in {**results, **extras}.items()
        },
        # provenance: BENCH_DETAIL is overwritten by EVERY bench.py run
        # including sf0.01 smokes — stamp the SF so a committed detail
        # file can never be mistaken for the sf0.1 closing series
        "sf": _sf_label(SF_DIR),
        "sf_dir": SF_DIR,
    }
    # The driver captures a bounded tail of stdout: the r7 output line
    # outgrew it and BENCH_r07 recorded `parsed: null`. Ship the bulky
    # per-query detail FIRST (one line + BENCH_DETAIL.json at the repo
    # root) and keep the parseable headline object compact and LAST.
    detail_line = json.dumps(detail)
    print(detail_line)
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"), "w") as f:
            f.write(detail_line + "\n")
    except OSError:
        pass
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": results,
                "extras_total_sec": round(sum(extras.values()), 4),
                "calibration": calibration,
                "sha256_pipeline_items_per_sec": sha_first,
                "sha256_pipeline_items_per_sec_last": sha_last,
                "sha256_items_per_sec_last_post_gc": diag["sha_last_post_gc"],
                "sf": _sf_label(SF_DIR),
                "cpus": cpu_budget(),
                "runs": RUNS,
            }
        )
    )


if __name__ == "__main__":
    main()
