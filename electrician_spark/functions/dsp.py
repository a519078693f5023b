"""Signal/wave analytics pack (SURVEY §7.2.7).

The reference ships DSP transformers over ``[]complex128`` samples:
FFT power spectrum, dominant frequency, total energy, SNR, Haar wavelet
forward/inverse, threshold denoise, top-5 peaks, MSE, compression ratio
(/root/reference/pkg/builder/utils.go:45-216,
example/wave_encoding_example/main.go:16-75).

Spark has no complex type; waves are modeled as two
``array<double>`` columns (re, im) — SURVEY §1.2/§7.4.1. All ops are
Arrow-batched pandas UDFs over numpy: per-row bounded work (arrays
≤ 4096 samples), so they scale linearly and shuffle nothing.

Determinism: numpy FFT is deterministic per platform; checks round to
6dp and assert analytic identities (Parseval, Haar round-trip) instead
of golden floats across platforms.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType


def energy(re: Column, im: Column | None = None) -> Column:
    """Σ|x|² as a JVM expression: a strictly *sequential* left fold, the
    same associativity as DuckDB's ``list_sum`` — so cross-engine checks
    agree bit-for-bit, unlike numpy's pairwise summation (whose
    different rounding path can land ``round(·, 6)`` on the other side
    of a 6th-decimal boundary). No Python worker, no Arrow transfer.
    (Reference TotalEnergy, utils.go:167-175.)"""
    sq = (
        F.transform(re, lambda x: x * x)
        if im is None
        else F.zip_with(re, im, lambda r, i: r * r + i * i)
    )
    return F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v)


def _to_complex(re: pd.Series, im: pd.Series) -> list[np.ndarray]:
    return [np.asarray(r, dtype=np.float64) + 1j * np.asarray(i, dtype=np.float64) for r, i in zip(re, im)]


@F.pandas_udf(ArrayType(DoubleType()))
def power_spectrum(re: pd.Series, im: pd.Series) -> pd.Series:
    """|FFT(x)|² per bin (reference utils.go:147-165 PowerSpectrum)."""
    return pd.Series([np.abs(np.fft.fft(x)) ** 2 for x in _to_complex(re, im)])


@F.pandas_udf(DoubleType())
def dominant_frequency(re: pd.Series, im: pd.Series, sample_rate: pd.Series) -> pd.Series:
    """argmax bin of the one-sided power spectrum, in Hz
    (utils.go DominantFrequency)."""
    out = []
    for x, sr in zip(_to_complex(re, im), sample_rate):
        p = np.abs(np.fft.fft(x)) ** 2
        half = len(x) // 2
        k = int(np.argmax(p[1 : half + 1])) + 1 if half >= 1 else 0
        out.append(k * float(sr) / len(x))
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def total_energy(re: pd.Series, im: pd.Series) -> pd.Series:
    """Σ|x|² in the time domain (utils.go TotalEnergy). Prefer the JVM
    :func:`energy` expression — numpy's pairwise summation has a
    different rounding path than a sequential fold, so this form is not
    cross-engine hash-stable; kept for parity with the numpy pipeline
    (FFT/Haar chains already inside a UDF)."""
    return pd.Series([float(np.abs(x).dot(np.abs(x))) for x in _to_complex(re, im)])


@F.pandas_udf(DoubleType())
def snr_db(re_signal: pd.Series, im_signal: pd.Series, re_noise: pd.Series, im_noise: pd.Series) -> pd.Series:
    """10·log10(E_signal / E_noise) (utils.go:200-216 SNR), vectorized
    per batch. For a cross-engine hash-stable form take 10·log10 of two
    :func:`energy` folds."""
    es = np.array(
        [float(np.asarray(r).dot(np.asarray(r)) + np.asarray(i).dot(np.asarray(i)))
         for r, i in zip(re_signal, im_signal)]
    )
    en = np.array(
        [float(np.asarray(r).dot(np.asarray(r)) + np.asarray(i).dot(np.asarray(i)))
         for r, i in zip(re_noise, im_noise)]
    )
    with np.errstate(divide="ignore"):
        out = np.where(en > 0, 10.0 * np.log10(es / np.where(en > 0, en, 1.0)), np.inf)
    return pd.Series(out)


def _haar_fwd(x: np.ndarray) -> np.ndarray:
    """In-place-style full Haar transform; len must be a power of 2
    (reference HaarWavelet, utils.go:45-63: averages in the front half,
    differences in the back half, recursing on the front)."""
    x = x.astype(np.complex128).copy()
    n = len(x)
    while n > 1:
        half = n // 2
        avg = (x[0:n:2] + x[1:n:2]) / 2.0
        diff = (x[0:n:2] - x[1:n:2]) / 2.0
        x[:half], x[half:n] = avg, diff
        n = half
    return x


def _haar_inv(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.complex128).copy()
    total = len(x)
    n = 1
    while n < total:
        half = n
        n *= 2
        avg, diff = x[:half].copy(), x[half:n].copy()
        out = np.empty(n, dtype=np.complex128)
        out[0:n:2] = avg + diff
        out[1:n:2] = avg - diff
        x[:n] = out
    return x


def _threshold(x: np.ndarray, thresh: float) -> np.ndarray:
    """Zero coefficients with |c| < thresh (utils.go:74-79 denoise)."""
    y = x.copy()
    y[np.abs(y) < thresh] = 0
    return y


_WAVE_STRUCT = StructType(
    [
        StructField("re", ArrayType(DoubleType())),
        StructField("im", ArrayType(DoubleType())),
    ]
)


@F.pandas_udf(_WAVE_STRUCT)
def haar_forward(re: pd.Series, im: pd.Series) -> pd.DataFrame:
    ys = [_haar_fwd(x) for x in _to_complex(re, im)]
    return pd.DataFrame({"re": [y.real.tolist() for y in ys], "im": [y.imag.tolist() for y in ys]})


@F.pandas_udf(_WAVE_STRUCT)
def haar_inverse(re: pd.Series, im: pd.Series) -> pd.DataFrame:
    ys = [_haar_inv(x) for x in _to_complex(re, im)]
    return pd.DataFrame({"re": [y.real.tolist() for y in ys], "im": [y.imag.tolist() for y in ys]})


@F.pandas_udf(_WAVE_STRUCT)
def haar_denoise(re: pd.Series, im: pd.Series, thresh: pd.Series) -> pd.DataFrame:
    """forward → threshold → inverse (the wave-compression example,
    wave_encoding_example/main.go:31-41)."""
    res, ims = [], []
    for x, t in zip(_to_complex(re, im), thresh):
        y = _haar_inv(_threshold(_haar_fwd(x), float(t)))
        res.append(y.real.tolist())
        ims.append(y.imag.tolist())
    return pd.DataFrame({"re": res, "im": ims})


@F.pandas_udf(DoubleType())
def mse(re_a: pd.Series, im_a: pd.Series, re_b: pd.Series, im_b: pd.Series) -> pd.Series:
    """Mean squared error between two waves (main.go:31-41)."""
    out = []
    for ra, ia, rb, ib in zip(re_a, im_a, re_b, im_b):
        a = np.asarray(ra) + 1j * np.asarray(ia)
        b = np.asarray(rb) + 1j * np.asarray(ib)
        out.append(float(np.mean(np.abs(a - b) ** 2)))
    return pd.Series(out)


_PEAKS_TYPE = ArrayType(
    StructType([StructField("freq", DoubleType()), StructField("value", DoubleType())])
)


@F.pandas_udf(_PEAKS_TYPE)
def top_peaks(re: pd.Series, im: pd.Series, sample_rate: pd.Series, k: pd.Series) -> pd.Series:
    """Top-k spectral peaks by power, one-sided spectrum
    (wave_encoding_example/main.go:43-60 keeps the 5 largest)."""
    out = []
    for x, sr, kk in zip(_to_complex(re, im), sample_rate, k):
        p = np.abs(np.fft.fft(x)) ** 2
        half = len(x) // 2
        bins = np.argsort(p[1 : half + 1])[::-1][: int(kk)] + 1
        bins = sorted(bins, key=lambda b: (-p[b], b))
        out.append(
            [{"freq": b * float(sr) / len(x), "value": float(p[b])} for b in bins]
        )
    return pd.Series(out)
