"""One-off dedup-family scaling probe — the SCALE.md §Dedup artifact.

Builds replica-scaled corpora from the sf0.1 documents table (each
replica tags every token with a replica prefix: a shingle-space
BIJECTION within a replica — pairwise Jaccard is preserved exactly —
and DISJOINT across replicas, so near-dup structure replicates
linearly instead of exploding quadratically), then times the four
shuffle-heavy dedup operators at 1x / 4x / 16x and reports the fitted
scaling exponent log(t16/t1)/log(16).

Usage: python tools/scale_probe.py [--mults 1,4,16] [--runs 2]
Prints one JSON line; paste the table into SCALE.md §Dedup.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from electrician_spark.io import read_table  # noqa: E402
from electrician_spark.operators import dedup  # noqa: E402
from electrician_spark.session import cpu_budget, get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def scaled_embeddings(spark, sf_dir: str, mult: int):
    """Replica-scaled embeddings: each replica applies a deterministic
    coordinate ROTATION (circular shift by replica id) + per-replica
    sign pattern — an orthogonal transform, so within-replica cosines
    (and therefore the pair/neighbor structure) replicate EXACTLY;
    cross-replica cosines are incidental."""
    base = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding", "label"
    )
    if mult == 1:
        return base
    reps = spark.range(mult).withColumnRenamed("id", "rep")
    d = 64
    rot = F.concat(
        F.slice(F.col("embedding"), (F.col("rep") % d + 1).cast("int"),
                (d - F.col("rep") % d).cast("int")),
        F.slice(F.col("embedding"), 1, (F.col("rep") % d).cast("int")),
    )
    signed = F.transform(
        rot,
        lambda x, i: F.when((i + F.col("rep")) % 2 == 0, x).otherwise(-x),
    )
    return base.crossJoin(reps).select(
        (F.col("vec_id") + F.col("rep") * 10_000_000).alias("vec_id"),
        signed.cast("array<float>").alias("embedding"),
        ((F.col("label") + F.col("rep") * 100) % (20 * mult)).alias("label"),
    )


def _similarity_ops():
    from electrician_spark.operators import similarity as sim

    def op_exact_pairs(emb, n_vecs):
        return sim.cosine_pairs(emb, threshold=0.4, blocks=None).count()

    def op_lsh_pairs(emb, n_vecs):
        return sim.lsh_cosine_pairs(emb, threshold=0.4, n_vecs=n_vecs).count()

    def op_ann_topk(emb, n_vecs):
        q = emb.filter(F.col("vec_id") < 10)
        return sim.cosine_topk_gemm(emb, q, k=5).count()

    def op_semantic(emb, n_vecs):
        return sim.semantic_dedup(emb, threshold=0.4, label_col="label").count()

    return {
        "q_d5_exact_pairs": op_exact_pairs,
        "q_d9_lsh_pairs": op_lsh_pairs,
        "q_n1_ann_topk_gemm": op_ann_topk,
        "q_sd1_semantic_dedup": op_semantic,
    }


def scaled_docs(spark, sf_dir: str, mult: int):
    base = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    if mult == 1:
        return base
    reps = spark.range(mult).withColumnRenamed("id", "rep")
    tag = F.concat(F.lit("r"), F.col("rep").cast("string"), F.lit("_"))
    tagged = F.array_join(
        F.transform(
            F.split(F.trim(F.col("text")), r"\s+"),
            lambda t: F.concat(tag, t),
        ),
        " ",
    )
    return base.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
        tagged.alias("text"),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mults", default="1,4,16")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--only", default=None, help="comma-separated op subset")
    ap.add_argument("--family", default="dedup", choices=("dedup", "similarity"))
    args = ap.parse_args()
    mults = [int(m) for m in args.mults.split(",")]

    spark = get_session("scale-probe", cpus=cpu_budget())

    def op_jaccard(docs, n_docs):
        return dedup.ngram_jaccard_pairs(docs, threshold=0.8, n_docs=n_docs).count()

    def op_minhash(docs, n_docs):
        return dedup.minhash_lsh_pairs(docs, threshold=0.8).count()

    def op_substring(docs, n_docs):
        # sum of output text lengths: a plain count() lets Catalyst
        # eliminate the final unique-key left join and skip the whole
        # strip pipeline — this forces full evaluation
        out = dedup.strip_repeated_ngrams(docs, min_len=8)
        row = out.agg(F.sum(F.length("text")).alias("s")).first()
        return int(row["s"] or 0)

    def op_clusters(docs, n_docs):
        pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8, n_docs=n_docs)
        return dedup.connected_components(pairs).count()

    ops = {
        "q_d2_ngram_jaccard": op_jaccard,
        "q_d3_minhash_lsh": op_minhash,
        "q_ss1_substring_dedup": op_substring,
        "q_d6_dup_clusters": op_clusters,
    }
    if args.family == "similarity":
        ops = _similarity_ops()
    if args.only:
        keep = set(args.only.split(","))
        ops = {k: v for k, v in ops.items() if k in keep}

    out: dict = {"sf_dir": SF_DIR, "family": args.family,
                 "mults": mults, "runs": args.runs, "ops": {}}
    src_table = "embeddings" if args.family == "similarity" else "documents"
    base_rows = read_table(spark, SF_DIR, src_table).count()
    for mult in mults:
        if args.family == "similarity":
            docs = scaled_embeddings(spark, SF_DIR, mult)
        else:
            docs = scaled_docs(spark, SF_DIR, mult)
        try:
            docs = docs.localCheckpoint()  # time the operator, not the scaling
        except Exception:  # noqa: BLE001
            pass
        n_docs = base_rows * mult
        for name, fn in ops.items():
            timings, rows = [], None
            for i in range(args.runs + 1):  # first run is warm-up
                t0 = time.perf_counter()
                rows = fn(docs, n_docs)
                if i:
                    timings.append(time.perf_counter() - t0)
            rec = out["ops"].setdefault(name, {"rows": {}, "sec": {}})
            rec["rows"][str(mult)] = rows
            rec["sec"][str(mult)] = round(statistics.median(timings), 3)
    import math

    for name, rec in out["ops"].items():
        lo, hi = str(mults[0]), str(mults[-1])
        ratio = rec["sec"][hi] / rec["sec"][lo]
        rec["exponent"] = round(math.log(ratio) / math.log(mults[-1] / mults[0]), 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
