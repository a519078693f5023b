"""Readers and writers.

Re-expresses the reference's storage-adapter surface Spark-first:

- S5 S3 object reader (NDJSON / gzip-NDJSON / Parquet, projection via
  ``FormatOptions["columns"]``, cursor ``StartAfterKey``) →
  ``spark.read`` with ``select`` (Catalyst prunes columns into the
  parquet scan) and predicate pushdown for the cursor.
  Reference: /root/reference/pkg/internal/adapter/s3client/reader.go:23-199,
  pkg/internal/types/s3_adapter.go:79-103.
- K1/K2 S3 writers (batch roll by records/bytes/age, time-partitioned
  key templates ``{yyyy}/{MM}/{dd}/{HH}/{mm}``) → ``df.write`` with
  ``partitionBy`` on derived time columns + ``maxRecordsPerFile``.
  Reference: pkg/internal/adapter/s3client/writer.go:14-79,
  parquet_writer.go:14-160, types/s3_adapter.go:25-72.

Local filesystem first; S3A is config-only (same code path, an
``s3a://`` prefix plus hadoop-aws credentials on a real cluster).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Reference writer defaults (types/s3_adapter.go:50-53): 50k records /
# 128 MB / 60 s per rolled object. Spark has record- and time-based
# rolling natively; byte-based is best-effort (SURVEY §7.4.5).
DEFAULT_MAX_RECORDS_PER_FILE = 50_000

# Reference key template fields (types/s3_adapter.go:27-29).
_TEMPLATE_COLS = {
    "{yyyy}": ("_yyyy", "yyyy"),
    "{MM}": ("_mm", "MM"),
    "{dd}": ("_dd", "dd"),
    "{HH}": ("_hh", "HH"),
    "{mm}": ("_min", "mm"),
}


# Fixture columns written as parquet TIMESTAMP(NANOS), which Spark's
# converter rejects by default. We read them as long nanos
# (legacy.parquet.nanosAsLong) and truncate to microsecond timestamps —
# the same truncation DuckDB applies, so oracle comparisons agree.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Plain parquet scan — Catalyst handles
    column pruning + predicate pushdown from downstream operators."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Pin UTC regardless of the host session's timezone: event-time
    # bucketing (date_trunc/window) must agree with the UTC-naive oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    nano_cols = _NANO_TS_COLS.get(name, ())
    if nano_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nano_cols:
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def local_frame(spark: SparkSession, rows: Sequence[tuple], schema: str | StructType) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema`` order) as a local relation.

    ``createDataFrame`` over a Python list builds a Python RDD, so every
    read of it starts Python worker tasks; the same rows as a
    ``pyarrow.Table`` plan as a ``LocalTableScan`` and start none."""
    import pyarrow as pa

    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    cols = list(zip(*rows)) or [()] * len(struct.fields)
    table = pa.table({f.name: pa.array(list(c)) for f, c in zip(struct.fields, cols)})
    return spark.createDataFrame(table, schema=struct)


def size_estimate(df: DataFrame) -> int | None:
    """The optimizer's size estimate of ``df`` in bytes: the statistic
    Catalyst's autoBroadcastJoinThreshold consults (file sizes for
    scans, propagated through projections). No job runs. ``None`` where
    the private plan handle is missing (Spark Connect) or has moved."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — private API unavailable
        return None


def fan_out_small(
    df: DataFrame, target: int | None = None, min_bytes: int | None = None
) -> DataFrame:
    """Guarantee at least ``target`` partitions before CPU-heavy per-row
    map work (shingling, per-pair cosine folds, signature hashing).

    A small scan (one parquet file → one split) otherwise serializes the
    expensive map stage on a single core while the rest of the cluster
    idles. The repartition fires ONLY when the scan is narrower than the
    session's parallelism — exactly the small-input case where the
    round-robin shuffle is trivially cheap. A 100 TB scan already yields
    thousands of splits, so at production scale this is a no-op (no
    unconditional full-corpus shuffle). Bonus: the exchange it inserts is
    deduplicated by ReuseExchange when the same base feeds several
    branches of one plan (signature + verify in MinHash-LSH), so the scan
    and projection above it run once.

    ``min_bytes`` (r16) makes the fan-out SCALE-ADAPTIVE for callers
    whose per-row map work is light enough that the inserted exchange
    costs more than serial execution on a tiny input: when set, the
    repartition additionally requires the optimizer's size estimate to
    reach ``min_bytes`` (guide §2 — derive partitioning from input
    size, not a constant tuned for one mode). Measured on dsir: at a
    ~3 MB corpus the fan-out LOST 0.4 s (three extra exchanges), at
    ~45 MB it WON 4.1× (serial gram hashing) — the estimate gate keeps
    both signs right with zero effect at 100 TB (n >= t there)."""
    try:  # .rdd / sparkContext are unavailable on Spark Connect sessions
        sc = df.sparkSession.sparkContext
        t = target or sc.defaultParallelism
        if min_bytes is not None:
            est = size_estimate(df)  # None: estimate unavailable, fan out
            if est is not None and est < min_bytes:
                return df
        try:
            # partition count straight off the JVM Dataset's RDD: the
            # public df.rdd property additionally plans the
            # JVM-to-Python pickle conversion (~70 ms of driver time
            # per call, measured r15) that a count-only probe never
            # needs; javaToPython is a map over this same RDD, so the
            # partition count is identical.
            n = df._jdf.rdd().getNumPartitions()
        except Exception:  # noqa: BLE001 — private API moved: public path
            n = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — degrade to the unmodified plan
        return df
    return df.repartition(t) if n < t else df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def scan_projected(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    start_after: tuple[str, object] | None = None,
) -> DataFrame:
    """Reference S5 reader semantics: projection (``FormatOptions["columns"]``)
    and cursor (``StartAfterKey``) expressed declaratively so Catalyst pushes
    both into the parquet scan (check: ``ReadSchema`` / ``PushedFilters`` in
    ``.explain("formatted")``).

    Reference: s3client/reader.go:23 (Fetch), types/s3_adapter.go:91-93.
    """
    df = spark.read.parquet(path)
    if start_after is not None:
        col, val = start_after
        df = df.filter(F.col(col) > F.lit(val))
    if columns:
        df = df.select(*columns)
    return df


def read_ndjson(
    spark: SparkSession, path: str, schema=None, gzipped: bool = False
) -> DataFrame:
    """NDJSON reader (reference S5 Format=ndjson; gzip handled transparently
    by Spark's text source the same way reader.go:88-92 wraps a gzip.Reader)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_ndjson(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    gzip: bool = False,
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
) -> None:
    """K1 NDJSON writer: record-count rolling + optional gzip."""
    w = df.write.mode(mode).option("maxRecordsPerFile", max_records_per_file)
    if gzip:
        w = w.option("compression", "gzip")
    w.json(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    seed: int = 0,
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> DataFrame:
    """Reproducible training-data export: every row gets the epoch's
    md5(``seed:id``) shuffle key and an EXPLICIT shard id derived from
    the key alone (``sampling.shard_of`` — ``(key·n) >> 32``, fixed
    key-space cuts), and shards are written as ``shard=N/`` NDJSON
    partition directories, one file per shard, rows sorted by
    (shuffle_key, id). Shard MEMBERSHIP and row ORDER are therefore a
    pure function of (data, seed, n_shards) — never of sampled range
    boundaries, which shift between runs once sampling actually
    subsamples at real scale. An integrity manifest (shard, file, rows,
    bytes, sha256) is computed executor-side and written next to the
    shards as ``_manifest/`` (single JSON); the manifest DataFrame is
    returned.

    This is the reproducible-data-loading contract LLM training runs
    need: a trainer (or an auditor) can verify every shard hash before
    a run, and re-exporting with the same seed reproduces the epoch
    byte-for-byte. Scale notes: ONE hash exchange on the derived shard
    column (each shard lands whole in one task, so each ``shard=N/``
    directory holds exactly one file); shard hashing reads each written
    file once via the binaryFile source and hashes JVM-side (sha2 over
    the file bytes — one row per shard, no driver I/O). Size shards via
    ``n_shards`` so a file fits an executor batch. A shard value with
    no rows (possible only when rows ≪ n_shards) writes no directory
    and gets no manifest row."""
    import os

    from pyspark.sql import functions as F

    from electrician_spark.operators.sampling import shard_of, shuffle_key

    spark = df.sparkSession
    keyed = df.withColumn("shuffle_key", shuffle_key(F.col(id_col), seed)).withColumn(
        "shard", shard_of(F.col("shuffle_key"), n_shards)
    )
    (
        keyed.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "shuffle_key", id_col)
        .write.mode(mode)
        .partitionBy("shard")
        .json(path)
    )
    fname = F.element_at(F.split(F.col("path"), "/"), -1)
    files = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "part-*")
        .load(path)
        .select(
            F.regexp_extract(F.col("path"), r"shard=(\d+)/", 1).cast("long").alias("shard"),
            fname.alias("file"),
            F.col("length").alias("bytes"),
            F.sha2(F.col("content"), 256).alias("sha256"),
            (
                F.length(F.col("content").cast("string"))
                - F.length(F.regexp_replace(F.col("content").cast("string"), "\n", ""))
            ).cast("long").alias("rows"),
        )
        .orderBy("shard")
    )
    manifest = files.select("shard", "file", "rows", "bytes", "sha256")
    manifest.coalesce(1).write.mode(mode).json(os.path.join(path, "_manifest"))
    return manifest


def verify_training_shards(spark: SparkSession, path: str) -> DataFrame:
    """Re-hash the shards under ``path`` and compare against the stored
    ``_manifest``: returns one row per shard with ``ok`` false on any
    size, hash, or row-count drift (bit-rot, partial overwrite,
    tampering) — rows are recounted from the actual scan (newline
    count), not trusted from the manifest. Executor-side, one pass
    over the files."""
    import os

    from pyspark.sql import functions as F

    stored = spark.read.json(os.path.join(path, "_manifest")).select(
        "shard",
        F.col("rows").alias("m_rows"),
        F.col("bytes").alias("m_bytes"),
        F.col("sha256").alias("m_sha256"),
    )
    actual = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "part-*")
        .load(path)
        .select(
            F.regexp_extract(F.col("path"), r"shard=(\d+)/", 1).cast("long").alias("shard"),
            F.col("length").alias("bytes"),
            F.sha2(F.col("content"), 256).alias("sha256"),
            (
                F.length(F.col("content").cast("string"))
                - F.length(F.regexp_replace(F.col("content").cast("string"), "\n", ""))
            ).cast("long").alias("rows"),
        )
    )
    return (
        stored.join(actual, "shard", "full")
        .select(
            "shard",
            (
                F.col("sha256").isNotNull()
                & F.col("m_sha256").isNotNull()
                & (F.col("sha256") == F.col("m_sha256"))
                & (F.col("bytes") == F.col("m_bytes"))
                & (F.col("rows") == F.col("m_rows"))
            ).alias("ok"),
            "m_rows",
            "rows",
            "m_bytes",
            "bytes",
            "m_sha256",
            "sha256",
        )
        .orderBy("shard")
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str] | str,
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
    format: str = "parquet",
) -> None:
    """Persist with Spark bucketing: rows are hash-partitioned into
    ``n_buckets`` files by ``bucket_cols`` AT WRITE TIME, so every
    later join/aggregate on those columns skips its shuffle entirely
    (the scan's output partitioning already matches — verified
    exchange-free in test_plans). This is the 100 TB lever for fact
    tables joined repeatedly on the same key: pay one shuffle at
    ingest, never again. Bucketing metadata lives in the session
    catalog, hence ``saveAsTable`` (path-based ``save`` cannot record
    it); ``sort`` additionally orders within buckets so sort-merge
    joins skip their sort stage too."""
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    w = df.write.mode(mode).format(format).bucketBy(n_buckets, *cols)
    if sort:
        w = w.sortBy(*cols)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back with its bucket spec intact (a plain
    ``spark.read.parquet`` of the files would lose the metadata and
    reintroduce the shuffle)."""
    return spark.table(table)


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    mode: str = "PERMISSIVE",
    sep: str = ",",
):
    """CSV reader (line-codec analog of the reference's line/text
    codecs, pkg/internal/codec/line.go). Pass an explicit ``schema``
    for typed reads: ``inferSchema`` costs a FULL extra pass over the
    data — a non-starter at 100 TB — so it is never enabled here;
    without a schema every column arrives as string. ``mode``:
    PERMISSIVE (bad rows null-filled, kept in ``_corrupt_record`` if
    the schema declares it) / DROPMALFORMED / FAILFAST."""
    r = (
        spark.read.option("header", header)
        .option("mode", mode)
        .option("sep", sep)
    )
    if schema is not None:
        r = r.schema(schema)
    return r.csv(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    gzip: bool = False,
    sep: str = ",",
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
) -> None:
    """CSV writer with the same record-count rolling as the NDJSON
    sink; one file per task otherwise, no driver funnel."""
    w = (
        df.write.mode(mode)
        .option("header", header)
        .option("sep", sep)
        .option("maxRecordsPerFile", max_records_per_file)
    )
    if gzip:
        w = w.option("compression", "gzip")
    w.csv(path)


def read_orc(spark: SparkSession, path: str, merge_schema: bool = False) -> DataFrame:
    """ORC reader — the second columnar format next to parquet (the
    reference is parquet-only, pkg/internal/codec/parquet.go; lake
    migrations routinely carry ORC from Hive-era tables). Spark's
    native vectorized ORC reader gives the same predicate-pushdown /
    column-pruning / partition-pruning behavior as the parquet path —
    plan-pinned in test_io. ``mergeSchema`` is opt-in (schema
    reconciliation lists every file's footer — expensive at 100 TB)."""
    r = spark.read
    if merge_schema:
        r = r.option("mergeSchema", True)
    return r.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "zstd",
    partition_by: list[str] | None = None,
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
) -> None:
    """ORC writer with the parquet sink's posture: task-parallel (no
    driver funnel), record-count file rolling, zstd default, optional
    hive-style partition columns for downstream pruning."""
    w = (
        df.write.mode(mode)
        .option("compression", compression)
        .option("maxRecordsPerFile", max_records_per_file)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def with_time_partitions(df: DataFrame, ts_col: str, template: str) -> tuple[DataFrame, list[str]]:
    """Materialize the reference's ``{yyyy}/{MM}/{dd}/{HH}/{mm}`` key template
    as partition columns (types/s3_adapter.go:27-29). Returns (df, partition_cols)
    in template order — directory layout then matches the reference's object-key
    layout, and Spark partition pruning replaces prefix listing."""
    cols: list[str] = []
    out = df
    # iterate tokens in TEMPLATE order, not dict order — the returned
    # partition-column order IS the directory layout, and the contract
    # is parity with the reference's key template ('{HH}/{yyyy}' must
    # not silently become yyyy/HH)
    present = [
        (token, spec) for token, spec in _TEMPLATE_COLS.items() if token in template
    ]
    for token, (col_name, fmt) in sorted(present, key=lambda kv: template.index(kv[0])):
        out = out.withColumn(col_name, F.date_format(F.col(ts_col), fmt))
        cols.append(col_name)
    return out, cols


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str | None = None,
    template: str = "{yyyy}/{MM}/{dd}",
    partition_by: list[str] | None = None,
    compression: str = "zstd",
    mode: str = "overwrite",
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
) -> list[str]:
    """K2 Parquet writer: compression codec (parquet_writer.go:107-133 supports
    zstd/snappy/gzip — same set Spark exposes), record rolling, and
    time-template partitioning. Returns the partition columns used."""
    cols = list(partition_by or [])
    out = df
    if ts_col is not None:
        out, tcols = with_time_partitions(df, ts_col, template)
        cols = tcols + cols
    w = (
        out.write.mode(mode)
        .option("compression", compression)
        .option("maxRecordsPerFile", max_records_per_file)
    )
    if cols:
        w = w.partitionBy(*cols)
    w.parquet(path)
    return cols


def jdbc_read(
    spark: SparkSession,
    url: str,
    table: str | None = None,
    query: str | None = None,
    predicates: list[str] | None = None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """S6 Postgres reader parity: WHERE/ORDER BY/LIMIT pushdown via the
    ``query`` option (reference builds the same SQL in
    postgresclient/reader.go:103-131). Executed end-to-end in
    tests/test_io.py against embedded Derby (write → pushdown SELECT →
    PushedFilters-verified dbtable read); point ``url``/``driver`` at
    Postgres for production."""
    reader = spark.read.format("jdbc").option("url", url)
    if query is not None:
        reader = reader.option("query", query)
    elif table is not None:
        reader = reader.option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def build_select_query(
    table: str,
    columns: list[str] | None = None,
    where: str | None = None,
    order_by: str | None = None,
    limit: int | None = None,
) -> str:
    """Build the pushdown SELECT the same way the reference's Postgres
    reader does (postgresclient/reader.go:103-131): projection, WHERE,
    ORDER BY, LIMIT all server-side."""
    cols = ", ".join(columns) if columns else "*"
    sql = f"SELECT {cols} FROM {table}"
    if where:
        sql += f" WHERE {where}"
    if order_by:
        sql += f" ORDER BY {order_by}"
    if limit is not None:
        sql += f" LIMIT {limit}"
    return sql


# -- Wave binary FILE source/sink (reference codec/wave.go:14-151) -----------
# The reference treats the wave format as a file codec, not only a column
# codec. Spark-first mapping: the built-in binaryFile DSv2 source scans
# files in parallel (pathGlobFilter/modifiedAfter pushdown, one row per
# file with path/length metadata), and the decode is the SAME
# Arrow-batched wave_decode used for in-row blobs — a file is a one-blob
# row. Writes happen on the executors via mapInPandas (distributed; the
# driver never sees payload bytes), returning a manifest the caller
# materializes with an action.


def read_wave_files(spark: SparkSession, path: str, glob: str = "*.wave") -> DataFrame:
    """Scan a directory of wave-format binary files into
    (path, length, re[], im[]) rows. Decode errors surface as NULL
    arrays (wave_decode's malformed-input contract), never task
    failures."""
    from electrician_spark.functions import codecs

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "length", codecs.wave_decode(F.col("content")).alias("_w"))
    )
    return df.select(
        "path", "length", F.col("_w.re").alias("re"), F.col("_w.im").alias("im")
    )


def write_wave_files(
    df: DataFrame,
    directory: str,
    id_col: str = "vec_id",
    re_col: str = "re",
    im_col: str = "im",
) -> DataFrame:
    """Write one ``<id>.wave`` file per row from the executors and
    return a (path, n_bytes) manifest (lazy — run an action on it to
    execute the write). Requires ``directory`` to be a filesystem all
    executors can reach (true for local mode and any shared/object
    store mount)."""
    import os as _os

    import numpy as _np
    import pandas as _pd

    def _write(batches):
        import struct

        _os.makedirs(directory, exist_ok=True)
        for b in batches:
            paths, sizes = [], []
            for rid, re_v, im_v in zip(b[id_col], b[re_col], b[im_col]):
                rr = _np.asarray(re_v, dtype="<f8")
                ii = _np.asarray(im_v, dtype="<f8")
                blob = struct.pack("<I", len(rr)) + rr.tobytes() + ii.tobytes()
                p = _os.path.join(directory, f"{rid}.wave")
                with open(p, "wb") as fh:
                    fh.write(blob)
                paths.append(p)
                sizes.append(len(blob))
            yield _pd.DataFrame({"path": paths, "n_bytes": sizes})

    return df.select(id_col, re_col, im_col).mapInPandas(_write, "path string, n_bytes long")


# -- Z-order clustered layout ------------------------------------------------
# The reference's writers roll files by count/bytes/age; at 100 TB the
# *layout inside* those files decides how much of the lake a filtered
# scan touches. Z-ordering interleaves the bit-codes of several columns
# into one sort key, so each written file covers a compact hyper-
# rectangle of the key space and parquet min/max (and page-index) stats
# prune files/row-groups for predicates on ANY prefix-free subset of
# the clustered columns — the standard lakehouse OPTIMIZE ZORDER
# technique, here as a plain writer.


def zorder_code(df: DataFrame, cols: list[str], bits: int = 8) -> Column:
    """Interleaved-bit Z-value over ``cols``. Each column is rank-coded
    into [0, 2^bits) against approx-quantile boundaries (one tiny
    driver-side approxQuantile per column — sampling-based, no global
    sort, the same posture as range partitioning), so skewed
    distributions still spread across the full code space. The
    per-value bucket lookup is a balanced binary-search WHEN tree over
    the literal boundaries — ~2^bits comparison nodes, depth ``bits``,
    fully inside whole-stage codegen (Spark's ``width_bucket`` only
    does uniform buckets; a higher-order filter over a boundary array
    would run interpreted). Codes' bits interleave LSB-first.
    Deterministic given the data; monotone per column."""
    n = len(cols)
    if not 1 <= n <= 4:
        raise ValueError("zorder_code supports 1-4 columns")
    buckets = 1 << bits
    qs = [i / buckets for i in range(1, buckets)]
    # ONE multi-column approxQuantile pass (not one full scan per
    # clustered column) over the double-cast projection
    zcols = [f"_z{i}" for i in range(n)]
    # try_cast in the probe: under ANSI a non-numeric value would make
    # the quantile job throw a cast error deep in the scan — NULLing it
    # here lets the empty-bounds check raise a clear rejection instead
    all_bounds = df.select(
        *[F.col(c).try_cast("double").alias(z) for c, z in zip(cols, zcols)]
    ).approxQuantile(zcols, qs, 0.001)
    codes = []
    for c, bounds in zip(cols, all_bounds):
        dcol = F.col(c).cast("double")
        if not bounds:
            # all-NULL after the double cast (non-numeric column):
            # every row would silently rank-code to a constant 0 and
            # the z-layout would carry no information for this column
            raise ValueError(
                f"zorder column {c!r} has no numeric values (cast to "
                f"double is all NULL) — z-ordering it would be a no-op"
            )
        uniq: list[float] = []
        for b in bounds:
            if not uniq or b > uniq[-1]:
                uniq.append(b)

        def bisect(lo: int, hi: int, v: Column, bnd: list[float]) -> Column:
            # number of boundaries <= v, as a balanced WHEN tree
            if lo == hi:
                return F.lit(lo).cast("bigint")
            mid = (lo + hi) // 2
            return (
                F.when(v >= F.lit(bnd[mid]), bisect(mid + 1, hi, v, bnd))
                .otherwise(bisect(lo, mid, v, bnd))
            )

        codes.append(bisect(0, len(uniq), dcol, uniq))
    z = F.lit(0).cast("bigint")
    for bit in range(bits):
        for i, code in enumerate(codes):
            z = z + F.shiftleft(F.shiftright(code, bit).bitwiseAND(F.lit(1)), bit * n + i)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int | None = None,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered by the Z-order of ``cols``:
    repartitionByRange on the z-value (contiguous, load-balanced key
    ranges per task — one shuffle) + sortWithinPartitions so row-group
    stats inside each file are tight too. Predicates on any of ``cols``
    then prune at file AND row-group granularity via parquet min/max.
    ``n_files`` defaults to the current partition count."""
    z = zorder_code(df, cols, bits).alias("_zorder")
    out = df.withColumn("_zorder", z)
    n = n_files or out.rdd.getNumPartitions()
    (
        out.repartitionByRange(n, F.col("_zorder"))
        .sortWithinPartitions("_zorder")
        .drop("_zorder")
        .write.mode(mode)
        .parquet(path)
    )


def write_webdataset_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    members: dict[str, str],
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """WebDataset-style tar shard export — the multimodal counterpart
    to :func:`write_training_shards`: each shard is one POSIX tar
    (``shard-00000.tar``) whose entries are ``{key}.{ext}`` files, one
    group of members per sample (the public WebDataset layout that
    streaming data loaders consume sequentially). ``members`` maps
    extension → column (binary columns written raw; everything else
    utf-8 text). NULL member values are skipped for that sample.

    Reproducibility contract (same as the NDJSON exporter): shard
    membership = ``shard_of(shuffle_key(seed:id))`` — a pure function
    of (data, seed, n_shards); samples are laid out in (shuffle_key,
    id) order; tar member metadata is pinned (mtime 0, uid/gid 0,
    mode 0644, USTAR), and the sample key stem is
    ``{shuffle_key:010d}_{id}`` — so re-export is byte-identical and
    the per-shard sha256 manifest (written to ``_manifest/``, returned
    as a DataFrame) verifies an epoch before training.

    Scale notes: ONE hash exchange on the derived shard column, then
    each shard streams through a single ``applyInPandas`` group task
    that writes its tar straight to ``path`` (shared filesystem /
    mounted object store — the standard WebDataset export topology)
    without driver involvement; memory is bounded by Arrow batching
    plus one member's bytes. Size shards via ``n_shards`` so one tar
    ≈ 100 MB–1 GB (the published WebDataset operating range)."""
    import io as _io
    import os
    import tarfile

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from electrician_spark.operators.sampling import shard_of, shuffle_key

    import glob as _glob

    spark = df.sparkSession
    os.makedirs(path, exist_ok=True)
    # overwrite semantics: clear tars from any previous export — a
    # re-export with fewer shards (or a filtered dataset) must not
    # leave stale shard-NNNNN.tar files that the shard-*.tar reader
    # glob would silently mix into the new epoch
    for stale in _glob.glob(os.path.join(path, "shard-*.tar")):
        os.remove(stale)
    cols = [df[c] for c in {v: None for v in members.values()}]
    keyed = (
        df.select(F.col(id_col).alias("_id"), *cols)
        .withColumn("_key", shuffle_key(F.col("_id"), seed))
        .withColumn("_shard", shard_of(F.col("_key"), n_shards))
    )

    out_schema = StructType(
        [
            StructField("shard", LongType()),
            StructField("file", StringType()),
            StructField("samples", LongType()),
            StructField("bytes", LongType()),
            StructField("sha256", StringType()),
        ]
    )
    member_items = sorted(members.items())  # deterministic member order

    def write_shard(pdf):
        import hashlib

        import pandas as pd

        shard = int(pdf["_shard"].iloc[0])
        pdf = pdf.sort_values(["_key", "_id"])
        buf = _io.BytesIO()
        n = 0
        member_cols = [pdf[col] for _, col in member_items]
        with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tar:
            for key, rid, *vals in zip(pdf["_key"], pdf["_id"], *member_cols):
                stem = f"{int(key):010d}_{rid}"
                for (ext, _), val in zip(member_items, vals):
                    if val is None:
                        continue
                    data = bytes(val) if isinstance(val, (bytes, bytearray)) else str(val).encode("utf-8")
                    ti = tarfile.TarInfo(name=f"{stem}.{ext}")
                    ti.size = len(data)
                    ti.mtime = 0
                    ti.uid = ti.gid = 0
                    ti.uname = ti.gname = ""
                    ti.mode = 0o644
                    tar.addfile(ti, _io.BytesIO(data))
                n += 1
        blob = buf.getvalue()
        fname = f"shard-{shard:05d}.tar"
        tmp = os.path.join(path, f".{fname}.tmp")
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, os.path.join(path, fname))
        return pd.DataFrame(
            [
                {
                    "shard": shard,
                    "file": fname,
                    "samples": n,
                    "bytes": len(blob),
                    "sha256": hashlib.sha256(blob).hexdigest(),
                }
            ]
        )

    manifest = (
        keyed.groupBy("_shard")
        .applyInPandas(write_shard, out_schema)
        .orderBy("shard")
        .localCheckpoint()  # barrier: all tars written before manifest write
    )
    manifest.coalesce(1).write.mode("overwrite").json(
        os.path.join(path, "_manifest")
    )
    return manifest


def verify_webdataset_shards(spark: SparkSession, path: str) -> DataFrame:
    """Re-hash the tars under ``path`` against the stored
    ``_manifest`` and recount samples by walking tar headers
    executor-side: one row per shard, ``ok`` false on size/hash/count
    drift. Unique sample stems are counted (members grouped by key),
    matching the exporter's ``samples``."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    stored = spark.read.json(os.path.join(path, "_manifest")).select(
        "shard",
        F.col("file").alias("m_file"),
        F.col("samples").alias("m_samples"),
        F.col("bytes").alias("m_bytes"),
        F.col("sha256").alias("m_sha256"),
    )
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "shard-*.tar")
        .load(path)
        .select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("file"),
            F.col("length").alias("bytes"),
            F.sha2(F.col("content"), 256).alias("sha256"),
            F.col("content"),
        )
    )

    def count_samples(batches):
        import io as _io
        import tarfile

        import pandas as pd

        for b in batches:
            rows = []
            for fname, bts, sha, content in zip(
                b["file"], b["bytes"], b["sha256"], b["content"]
            ):
                stems = set()
                try:
                    with tarfile.open(
                        fileobj=_io.BytesIO(bytes(content)), mode="r"
                    ) as tar:
                        for m in tar.getmembers():
                            stems.add(m.name.rsplit(".", 1)[0])
                except tarfile.TarError:
                    pass
                rows.append(
                    {
                        "file": fname,
                        "a_bytes": int(bts),
                        "a_sha256": sha,
                        "a_samples": len(stems),
                    }
                )
            yield pd.DataFrame(rows)

    actual = files.mapInPandas(
        count_samples,
        StructType(
            [
                StructField("file", StringType()),
                StructField("a_bytes", LongType()),
                StructField("a_sha256", StringType()),
                StructField("a_samples", LongType()),
            ]
        ),
    )
    return (
        stored.join(actual, stored["m_file"] == actual["file"], "full")
        .select(
            "shard",
            F.coalesce("m_file", "file").alias("file"),
            (
                F.col("m_file").isNotNull()
                & F.col("file").isNotNull()
                & (F.col("m_bytes") == F.col("a_bytes"))
                & (F.col("m_sha256") == F.col("a_sha256"))
                & (F.col("m_samples") == F.col("a_samples"))
            ).alias("ok"),
            "m_samples",
            "a_samples",
            "m_sha256",
            "a_sha256",
        )
        .orderBy("file")
    )


def read_webdataset_shards(
    spark: SparkSession,
    path: str,
    binary_members: tuple[str, ...] = (),
    text_members: tuple[str, ...] = (),
) -> DataFrame:
    """Read :func:`write_webdataset_shards` output (or any
    WebDataset-layout tars) back to one row per sample: ``key`` (the
    member stem) plus one column per requested extension —
    ``binary_members`` stay raw bytes, ``text_members`` decode utf-8.
    Missing members are NULL (the exporter skips NULL values, so the
    round-trip is exact — pinned in tests).

    Scale: one input partition per tar (binaryFile source — the same
    file-parallelism unit as the WARC reader: shards are sized
    ~100 MB–1 GB precisely so FILE parallelism is the scaling axis);
    each kernel walks its tar's headers sequentially and emits Arrow
    batches. ``shard`` and in-tar order are preserved via the
    (shard, key) output ordering columns."""
    import io as _io

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    fields = [
        StructField("shard", LongType()),
        StructField("key", StringType()),
    ]
    for ext in binary_members:
        fields.append(StructField(ext, BinaryType()))
    for ext in text_members:
        fields.append(StructField(ext, StringType()))
    schema = StructType(fields)
    wanted = set(binary_members) | set(text_members)

    def gen(batches):
        import re
        import tarfile

        import pandas as pd

        for b in batches:
            rows = []
            for p, content in zip(b["path"], b["content"]):
                m = re.search(r"shard-(\d+)\.tar$", p)
                shard = int(m.group(1)) if m else -1
                with tarfile.open(fileobj=_io.BytesIO(bytes(content))) as tar:
                    cur_key, cur = None, {}

                    def flush():
                        if cur_key is not None:
                            row = {"shard": shard, "key": cur_key}
                            for ext in binary_members:
                                row[ext] = cur.get(ext)
                            for ext in text_members:
                                v = cur.get(ext)
                                row[ext] = v.decode("utf-8") if v is not None else None
                            rows.append(row)

                    for mem in tar.getmembers():
                        stem, _, ext = mem.name.rpartition(".")
                        if ext not in wanted:
                            continue
                        if stem != cur_key:
                            flush()
                            cur_key, cur = stem, {}
                        cur[ext] = tar.extractfile(mem).read()
                    flush()
            yield pd.DataFrame(
                rows, columns=[f.name for f in fields]
            ) if rows else pd.DataFrame(
                {f.name: [] for f in fields}
            )

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "shard-*.tar")
        .load(path)
        .select("path", "content")
    )
    return files.mapInPandas(gen, schema)
