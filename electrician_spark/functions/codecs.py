"""Codec pack — serialization surface parity (SURVEY §2.10 row
JSON/XML/line/text/binary + the custom wave binary codec).

Reference codecs (/root/reference/pkg/internal/codec/): json.go (+slice
forms), xml.go, html.go, line.go, text.go, binary.go, wave.go. Each is
an encode/decode pair over the element type; here each is a Column
expression pair (JVM-side) except the wave binary format, which needs
byte-level packing → Arrow pandas UDF (SURVEY §7.4.1).

Wave binary format (ours, little-endian, deterministic):
    uint32 n  |  n × float64 re  |  n × float64 im
Truncated/garbage input decodes to NULL (error-column pattern), the
analog of the reference's truncated-wave decode error
(codec/codec_test.go truncated case) without failing the task.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, DoubleType, StructField, StructType

# -- JSON (codec/json.go) ---------------------------------------------------


def json_encode(*cols: str) -> Column:
    return F.to_json(F.struct(*cols))


def json_decode(col: Column, schema) -> Column:
    return F.from_json(col, schema)


# -- XML (codec/xml.go) -----------------------------------------------------


def xml_encode(*cols: str, row_tag: str = "row") -> Column:
    """Struct → XML string (Spark 4 to_xml, rowTag option)."""
    return F.to_xml(F.struct(*cols), {"rowTag": row_tag})


def xml_decode(col: Column, schema: str, row_tag: str = "row") -> Column:
    return F.from_xml(col, schema, {"rowTag": row_tag})


# -- HTML (codec/html.go — elements rendered as markup) ----------------------


def html_encode(col: Column, tag: str = "li") -> Column:
    return F.concat(F.lit(f"<{tag}>"), col.cast("string"), F.lit(f"</{tag}>"))


# -- line / text (codec/line.go, text.go) -------------------------------------


def line_encode(*cols, sep: str = "|") -> Column:
    """Row → one delimited line (line codec encode)."""
    return F.concat_ws(sep, *[F.col(c).cast("string") if isinstance(c, str) else c for c in cols])


def line_decode(col: Column, names: list[str], sep: str = "|") -> list[Column]:
    """One delimited line → named string columns."""
    parts = F.split(col, f"[{sep}]" if sep in "|.^$*+?" else sep)
    return [parts.getItem(i).alias(n) for i, n in enumerate(names)]


# -- binary (codec/binary.go) --------------------------------------------------


def binary_encode(col: Column) -> Column:
    return F.encode(col.cast("string"), "utf-8").cast("binary")


def binary_decode(col: Column) -> Column:
    return F.decode(col, "utf-8")


def to_base64(col: Column) -> Column:
    return F.base64(col)


def from_base64(col: Column) -> Column:
    return F.unbase64(col)


# -- AES-GCM payload encryption (reference client-side encryption,
#    adapter/s3client/cse.go, relaycodec/codec.go:200) -------------------------


def aes_encrypt(col: Column, key: str, mode: str = "GCM") -> Column:
    return F.aes_encrypt(col.cast("binary"), F.lit(key), F.lit(mode))


def aes_decrypt(col: Column, key: str, mode: str = "GCM") -> Column:
    return F.aes_decrypt(col, F.lit(key), F.lit(mode))


# -- payload compression (relaycodec/codec.go:152-183: deflate/snappy/
#    zstd/brotli/lz4; parquet codec map parquet_writer.go:107-133) -------------
#
# stdlib codecs are always available; optional ones are import-gated and
# raise a clear error naming the missing library. All run as
# Arrow-batched pandas UDFs over BinaryType (never per-row pickled).

import bz2 as _bz2
import gzip as _gzip
import lzma as _lzma
import zlib as _zlib

_COMPRESSORS: dict[str, tuple] = {
    "deflate": (_zlib.compress, _zlib.decompress),
    "gzip": (_gzip.compress, _gzip.decompress),
    "bz2": (_bz2.compress, _bz2.decompress),
    "xz": (_lzma.compress, _lzma.decompress),
}

try:  # optional codecs, mirroring the reference's pluggable set
    import snappy as _snappy  # type: ignore

    _COMPRESSORS["snappy"] = (_snappy.compress, _snappy.decompress)
except ImportError:
    pass
try:
    import zstandard as _zstd  # type: ignore

    _COMPRESSORS["zstd"] = (
        lambda b: _zstd.ZstdCompressor().compress(b),
        lambda b: _zstd.ZstdDecompressor().decompress(b),
    )
except ImportError:
    pass
try:
    import lz4.frame as _lz4  # type: ignore

    _COMPRESSORS["lz4"] = (_lz4.compress, _lz4.decompress)
except ImportError:
    pass
# Reference relay codec also speaks brotli (relaycodec/codec.go:152-183);
# neither brotli nor brotlicffi ships in this container, so the codec
# registers only where one is importable.
try:
    import brotli as _brotli  # type: ignore

    _COMPRESSORS["brotli"] = (_brotli.compress, _brotli.decompress)
except ImportError:
    try:
        import brotlicffi as _brotli  # type: ignore

        _COMPRESSORS["brotli"] = (_brotli.compress, _brotli.decompress)
    except ImportError:
        pass


def _codec_fns(codec: str) -> tuple:
    if codec not in _COMPRESSORS:
        raise ValueError(
            f"compression codec {codec!r} not available (have: {sorted(_COMPRESSORS)})"
        )
    return _COMPRESSORS[codec]


def compress(col: Column, codec: str = "deflate") -> Column:
    comp, _ = _codec_fns(codec)

    @F.pandas_udf(BinaryType())
    def _c(b: pd.Series) -> pd.Series:
        return b.map(lambda x: None if x is None else comp(bytes(x)))

    return _c(col.cast("binary"))


def decompress(col: Column, codec: str = "deflate") -> Column:
    _, decomp = _codec_fns(codec)

    @F.pandas_udf(BinaryType())
    def _d(b: pd.Series) -> pd.Series:
        def one(x):
            if x is None:
                return None
            try:
                return decomp(bytes(x))
            except Exception:  # malformed → NULL (error-column pattern)
                return None

        return b.map(one)

    return _d(col)


# -- wave binary codec (codec/wave.go:14-151 capability) ------------------------

WAVE_STRUCT = StructType(
    [StructField("re", ArrayType(DoubleType())), StructField("im", ArrayType(DoubleType()))]
)


@F.pandas_udf(BinaryType())
def wave_encode(re: pd.Series, im: pd.Series) -> pd.Series:
    """(re[], im[]) → LE binary: uint32 n + n·f64 re + n·f64 im."""
    out = []
    for r, i in zip(re, im):
        rr = np.asarray(r, dtype="<f8")
        ii = np.asarray(i, dtype="<f8")
        out.append(struct.pack("<I", len(rr)) + rr.tobytes() + ii.tobytes())
    return pd.Series(out)


@F.pandas_udf(WAVE_STRUCT)
def wave_decode(blob: pd.Series) -> pd.DataFrame:
    """Binary → (re[], im[]); malformed/truncated input → NULLs (the
    reference's decode error, surfaced as a column not a crash)."""
    res, ims = [], []
    for b in blob:
        try:
            if b is None or len(b) < 4:
                raise ValueError("truncated header")
            (n,) = struct.unpack_from("<I", b, 0)
            need = 4 + 16 * n
            if len(b) < need:
                raise ValueError("truncated body")
            arr = np.frombuffer(b, dtype="<f8", count=2 * n, offset=4)
            res.append(arr[:n].tolist())
            ims.append(arr[n:].tolist())
        except Exception:  # noqa: BLE001 — malformed blob → NULL row
            res.append(None)
            ims.append(None)
    return pd.DataFrame({"re": res, "im": ims})
