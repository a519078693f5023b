"""DSP pack tests — analytic ground truth, mirroring the reference's
wave example (known sine frequencies, Parseval energy, Haar round-trip;
/root/reference/example/wave_encoding_example/main.go:16-75,
pkg/builder/utils.go:45-216)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from electrician_spark.functions import dsp
from tests.conftest import SF_ORACLE

N = 256
SAMPLE_RATE = 256.0


@pytest.fixture(scope="module")
def waves(spark):
    """Deterministic sines: id 1 → 8 Hz, id 2 → 32 Hz + weak 8 Hz."""
    t = np.arange(N) / SAMPLE_RATE
    w1 = np.sin(2 * np.pi * 8 * t)
    w2 = np.sin(2 * np.pi * 32 * t) + 0.25 * np.sin(2 * np.pi * 8 * t)
    rows = [
        (1, w1.tolist(), [0.0] * N),
        (2, w2.tolist(), [0.0] * N),
    ]
    return spark.createDataFrame(rows, "id int, re array<double>, im array<double>")


def test_dominant_frequency(waves):
    out = {
        r.id: r.dom
        for r in waves.select(
            "id", dsp.dominant_frequency("re", "im", F.lit(SAMPLE_RATE)).alias("dom")
        ).collect()
    }
    assert out[1] == pytest.approx(8.0)
    assert out[2] == pytest.approx(32.0)


def test_parseval_energy(waves):
    """Σ|x|² (time) == Σ|X|²/N (freq) — Parseval's identity ties
    total_energy and power_spectrum together."""
    rows = waves.select(
        "id",
        dsp.total_energy("re", "im").alias("e_time"),
        dsp.power_spectrum("re", "im").alias("spec"),
    ).collect()
    for r in rows:
        e_freq = sum(r.spec) / N
        assert r.e_time == pytest.approx(e_freq, rel=1e-9)


def test_haar_round_trip(waves):
    """inverse(forward(x)) == x (MSE ≈ 0) — the reference's
    compression-example sanity check."""
    fwd = waves.select("id", dsp.haar_forward("re", "im").alias("h"))
    rt = fwd.select("id", dsp.haar_inverse("h.re", "h.im").alias("w"))
    joined = waves.join(rt, "id").select(
        dsp.mse("re", "im", "w.re", "w.im").alias("err")
    )
    for r in joined.collect():
        assert r.err == pytest.approx(0.0, abs=1e-18)


def test_haar_denoise_reduces_noise(spark):
    rng = np.random.default_rng(42)
    t = np.arange(N) / SAMPLE_RATE
    clean = np.sin(2 * np.pi * 8 * t)
    noisy = clean + 0.2 * rng.standard_normal(N)
    df = spark.createDataFrame(
        [(1, noisy.tolist(), [0.0] * N, clean.tolist(), [0.0] * N)],
        "id int, re array<double>, im array<double>, cre array<double>, cim array<double>",
    )
    out = df.withColumn("d", dsp.haar_denoise("re", "im", F.lit(0.02))).select(
        dsp.mse("re", "im", "cre", "cim").alias("mse_before"),
        dsp.mse("d.re", "d.im", "cre", "cim").alias("mse_after"),
    )
    r = out.collect()[0]
    assert r.mse_after < r.mse_before


def test_top_peaks(waves):
    out = {
        r.id: r.peaks
        for r in waves.select(
            "id", dsp.top_peaks("re", "im", F.lit(SAMPLE_RATE), F.lit(2)).alias("peaks")
        ).collect()
    }
    assert out[2][0].freq == pytest.approx(32.0)
    assert out[2][1].freq == pytest.approx(8.0)
    assert len(out[1]) == 2


def test_energy_is_a_sequential_fold(spark):
    """``dsp.energy`` folds left to right, the associativity of DuckDB's
    ``list_sum``: over the embedding fixture it equals the plain
    float64 loop bit for bit, with and without an imaginary part."""
    import pyarrow.parquet as pq

    path = f"{SF_ORACLE}/embeddings.parquet"
    emb = spark.read.parquet(path).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("re")
    )
    im = F.reverse("re")
    got = {
        r.vec_id: (r.e, r.e_c)
        for r in emb.select(
            "vec_id",
            dsp.energy(F.col("re")).alias("e"),
            dsp.energy(F.col("re"), im).alias("e_c"),
        ).collect()
    }
    t = pq.read_table(path, columns=["vec_id", "embedding"]).to_pydict()
    want = {}
    for vid, xs in zip(t["vec_id"], t["embedding"]):
        e = e_c = 0.0
        for x, y in zip(xs, reversed(xs)):
            e += x * x
            e_c += x * x + y * y
        want[vid] = (e, e_c)
    assert got == want


def test_snr_known_ratio(spark):
    """Signal 10× the noise energy → SNR = 10 dB exactly."""
    sig = [math.sqrt(10.0)] * 4
    noise = [1.0] * 4
    df = spark.createDataFrame(
        [(sig, [0.0] * 4, noise, [0.0] * 4)],
        "rs array<double>, is array<double>, rn array<double>, inn array<double>",
    )
    r = df.select(dsp.snr_db("rs", "is", "rn", "inn").alias("snr")).collect()[0]
    assert r.snr == pytest.approx(10.0, rel=1e-9)
