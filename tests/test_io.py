"""IO tests — mirrors the reference's codec round-trips and writer-roll
semantics (codec_test.go; s3client writer key templates)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from electrician_spark import io as eio
from tests.conftest import SF_SMOKE


def test_ndjson_round_trip(spark, tmp_path):
    """K1/Q-K2: write NDJSON, read back, order-insensitive equality."""
    orders = eio.read_table(spark, SF_SMOKE, "orders")
    path = str(tmp_path / "orders_ndjson")
    eio.write_ndjson(orders.withColumn("o_orderdate", F.col("o_orderdate").cast("string")), path)
    back = eio.read_ndjson(spark, path)
    assert back.count() == orders.count()
    a = {r.o_orderkey: r.o_totalprice for r in back.collect()}
    b = {r.o_orderkey: r.o_totalprice for r in orders.collect()}
    assert a == b


def test_ndjson_gzip_round_trip(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, s string")
    path = str(tmp_path / "gz")
    eio.write_ndjson(df, path, gzip=True)
    assert glob.glob(os.path.join(path, "*.gz"))
    assert eio.read_ndjson(spark, path).count() == 2


def test_parquet_time_partitioned_write(spark, tmp_path):
    """K2 + key template {yyyy}/{MM}: directory layout matches the
    reference's time-partitioned object keys; partition pruning applies
    on read (Q-K1 round trip)."""
    orders = eio.read_table(spark, SF_SMOKE, "orders")
    path = str(tmp_path / "orders_parts")
    cols = eio.write_parquet_partitioned(orders, path, ts_col="o_orderdate", template="{yyyy}/{MM}")
    assert cols == ["_yyyy", "_mm"]
    assert glob.glob(os.path.join(path, "_yyyy=*/_mm=*"))
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    # partition pruning: filter on partition col reads only those dirs
    one_year = back.filter(F.col("_yyyy") == "1996")
    expected = orders.filter(F.year("o_orderdate") == 1996).count()
    assert one_year.count() == expected


def test_projection_and_cursor_pushdown_in_plan(spark):
    """S5 columns/StartAfter must reach the parquet scan: ReadSchema
    pruned + PushedFilters populated (SURVEY §4.1)."""
    df = eio.scan_projected(
        spark,
        os.path.join(SF_SMOKE, "lineitem.parquet"),
        columns=["l_orderkey", "l_extendedprice"],
        start_after=("l_orderkey", 100),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_orderkey), GreaterThan(l_orderkey,100)]" in plan
    assert "l_quantity" not in plan  # pruned column never read


def test_build_select_query_pushdown_sql():
    """S6 Postgres reader query building (reader.go:103-131 parity)."""
    sql = eio.build_select_query(
        "events", columns=["id", "payload"], where="id > 10", order_by="id DESC", limit=5
    )
    assert sql == "SELECT id, payload FROM events WHERE id > 10 ORDER BY id DESC LIMIT 5"


def test_jdbc_executes_real_database_roundtrip(spark, tmp_path):
    """S6 executed end-to-end against a real JDBC database (embedded
    Derby, shipped in Spark's jars): write a table over JDBC, read it
    back (a) via a server-side pushdown SELECT built by
    build_select_query — the reference's reader.go:103-131 shape — and
    (b) via dbtable + Spark filter, asserting the predicate reaches the
    JDBC scan as PushedFilters (sent to the database as WHERE, not
    evaluated in Spark). Derby folds unquoted identifiers to upper case
    and Spark quotes identifiers on write, so the pushdown SQL quotes
    them — exactly what the Postgres reader does with its column list."""
    spark._jvm.java.lang.System.setProperty("derby.system.home", str(tmp_path))
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = spark.range(100).select(
        "id", (F.col("id") % 5).alias("k"), (F.col("id") * 2.0).alias("v")
    )
    src.write.format("jdbc").option("url", url).option("dbtable", "t1").option(
        "driver", props["driver"]
    ).mode("overwrite").save()

    pushed_sql = eio.jdbc_read(
        spark,
        url,
        query=eio.build_select_query("t1", columns=['"id"', '"k"'], where='"k" = 3'),
        properties=props,
    )
    assert pushed_sql.columns == ["id", "k"]
    assert pushed_sql.count() == 20

    tbl = (
        eio.jdbc_read(spark, url, table="t1", properties=props)
        .filter(F.col("k") == 2)
        .select("id")
    )
    plan = tbl._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [*IsNotNull(k), *EqualTo(k,2)]" in plan
    assert sorted(r.id for r in tbl.collect()) == [i for i in range(100) if i % 5 == 2]


def test_max_records_per_file_rolls(spark, tmp_path):
    """W1 record-count batch roll (50k default scaled down)."""
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    path = str(tmp_path / "rolled")
    df.coalesce(1).write.option("maxRecordsPerFile", 30).mode("overwrite").parquet(path)
    files = glob.glob(os.path.join(path, "*.parquet"))
    assert len(files) == 4  # 30+30+30+10


def test_fan_out_small_widens_narrow_scan(spark):
    """A single-partition input must be widened to the session's
    parallelism before CPU-heavy map work; an already-wide input is
    returned unchanged (no gratuitous shuffle at scale)."""
    narrow = spark.range(100).coalesce(1)
    widened = eio.fan_out_small(narrow)
    assert widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert widened.count() == 100
    wide = spark.range(100).repartition(spark.sparkContext.defaultParallelism + 4)
    assert eio.fan_out_small(wide) is wide


def test_size_estimate_reads_the_optimizer_statistic(spark):
    """The estimate comes through a private plan path; a PySpark upgrade
    that moves it must fail here, not turn the size gates silently off."""
    scan = spark.read.parquet(os.path.join(SF_SMOKE, "lineitem.parquet"))
    est = eio.size_estimate(scan)
    assert isinstance(est, int) and est > 0
    assert eio.size_estimate(object()) is None  # no plan handle


def test_wave_file_roundtrip(spark, tmp_path):
    # File-format wave codec (reference codec/wave.go): executor-side
    # write -> binaryFile DSv2 scan -> Arrow-batched decode must
    # reproduce the source arrays exactly (f64 is lossless end-to-end).
    from electrician_spark.io import read_wave_files, write_wave_files

    src = spark.createDataFrame(
        [(1, [1.0, -2.5, 3.25], [0.0, 0.5, -0.125]), (2, [9.0], [0.0])],
        "vec_id long, re array<double>, im array<double>",
    )
    manifest = write_wave_files(src, str(tmp_path / "waves")).collect()
    assert len(manifest) == 2
    assert all(m["n_bytes"] == 4 + 16 * len_ for m, len_ in zip(sorted(manifest, key=lambda m: m["path"]), [3, 1]))
    back = read_wave_files(spark, str(tmp_path / "waves"))
    rows = {tuple(r["re"]): tuple(r["im"]) for r in back.collect()}
    assert rows == {(1.0, -2.5, 3.25): (0.0, 0.5, -0.125), (9.0,): (0.0,)}


def test_wave_file_source_tolerates_corrupt_file(spark, tmp_path):
    d = tmp_path / "waves"
    d.mkdir()
    (d / "bad.wave").write_bytes(b"\xff\xff\xff\xff short")
    from electrician_spark.io import read_wave_files

    rows = read_wave_files(spark, str(d)).collect()
    assert len(rows) == 1 and rows[0]["re"] is None  # error -> NULL, not a crash


def test_csv_roundtrip_and_malformed_modes(spark, tmp_path):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from electrician_spark.io import read_csv, write_csv

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    p = str(tmp_path / "csv_out")
    write_csv(df, p)
    schema = StructType([StructField("k", LongType()), StructField("v", StringType())])
    back = read_csv(spark, p, schema=schema)
    assert sorted(map(tuple, back.collect())) == [(1, "a"), (2, "b")]

    # Hand-written file with a malformed row.
    bad = tmp_path / "bad" / "part.csv"
    bad.parent.mkdir()
    bad.write_text("k,v\n1,a\nnot_a_number,b\n3,c\n")
    # PERMISSIVE: bad cell -> NULL, row kept.
    perm = read_csv(spark, str(bad.parent), schema=schema).collect()
    assert len(perm) == 3 and any(r.k is None for r in perm)
    # DROPMALFORMED: row gone. NB: count() would report 3 — CSV column
    # pruning parses zero columns for a bare count, so no row can fail
    # conversion; materialize the rows to exercise the parser.
    dropped = read_csv(spark, str(bad.parent), schema=schema, mode="DROPMALFORMED")
    assert len(dropped.collect()) == 2

    # Untyped read (no schema): everything is a string, no inference scan.
    untyped = read_csv(spark, p)
    assert [f.dataType.simpleString() for f in untyped.schema.fields] == ["string", "string"]


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    # The 100 TB story: pay the shuffle once at write time, then every
    # join on the bucket key is co-located. Pin: bucketed⋈bucketed has
    # ZERO Exchange operators (and no per-side sort when sortBy was
    # used); the same join over plain parquet shuffles both sides.
    from electrician_spark.io import read_bucketed, write_bucketed

    df = spark.range(50_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    # warehouse.dir is static per-session; tables land in the default
    # warehouse and are dropped (managed => files deleted) in finally.
    write_bucketed(df, "es_bucket_a", "k", 8)
    write_bucketed(df.withColumnRenamed("v", "w"), "es_bucket_b", "k", 8)
    try:
        a, b = read_bucketed(spark, "es_bucket_a"), read_bucketed(spark, "es_bucket_b")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = (
                a.join(b, "k")._jdf.queryExecution().executedPlan().toString()
            )
            assert plan.count("Exchange") == 0, plan
            assert "SortMergeJoin" in plan

            plain = str(tmp_path / "plain")
            df.write.mode("overwrite").parquet(plain)
            p = spark.read.parquet(plain)
            plan2 = (
                p.join(p.withColumnRenamed("v", "w"), "k")
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert plan2.count("Exchange") >= 2, plan2
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS es_bucket_a")
        spark.sql("DROP TABLE IF EXISTS es_bucket_b")


def test_bucketed_validation(spark):
    from electrician_spark.io import write_bucketed

    df = spark.range(2).select(F.col("id").alias("k"))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        write_bucketed(df, "es_bad", "k", 0)


def test_zorder_layout_prunes_multi_column_predicates(spark, tmp_path):
    """Z-order clustering must make per-file min/max ranges selective on
    BOTH clustered columns at once: for a small rectangle predicate,
    far fewer files overlap (i.e. would survive parquet row-group/file
    pruning) than under the unclustered layout, where every file spans
    the full domain of both columns."""
    import pyarrow.parquet as pq

    n = 200_000
    df = (
        spark.range(n)
        .withColumn("x", (F.col("id") * 2654435761 % 1000003) % 1000)
        .withColumn("y", (F.col("id") * 40503 % 999983) % 1000)
    )
    plain, zord = str(tmp_path / "plain"), str(tmp_path / "zord")
    df.repartition(16).write.mode("overwrite").parquet(plain)
    eio.write_zordered(df, zord, ["x", "y"], n_files=16)

    def overlap_fraction(path):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        assert files
        hits = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            xmin = ymin = float("inf")
            xmax = ymax = float("-inf")
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    name = col.path_in_schema
                    if name not in ("x", "y") or col.statistics is None:
                        continue
                    lo, hi = col.statistics.min, col.statistics.max
                    if name == "x":
                        xmin, xmax = min(xmin, lo), max(xmax, hi)
                    else:
                        ymin, ymax = min(ymin, lo), max(ymax, hi)
            # rectangle query: x in [100,199], y in [300,399]
            if xmin <= 199 and xmax >= 100 and ymin <= 399 and ymax >= 300:
                hits += 1
        return hits / len(files)

    assert overlap_fraction(plain) == 1.0  # random layout: no pruning
    assert overlap_fraction(zord) <= 0.5  # clustered: most files skipped

    # layout is a property of file placement only — the data survives
    back = spark.read.parquet(zord)
    assert back.count() == n
    assert back.agg(F.sum("x"), F.sum("y")).collect() == df.agg(
        F.sum("x"), F.sum("y")
    ).collect()


def test_wave_python_datasource_reads_directory(spark, tmp_path):
    """The `wave` Python Data Source (Spark 4 DSv2 API) must decode a
    directory of wave files into (path, n_samples, re, im) rows —
    identical arrays to the binaryFile+UDF path — with malformed files
    surfacing as NULL-array rows, never task failures."""
    from electrician_spark import wave_datasource
    from electrician_spark.io import write_wave_files

    src = spark.createDataFrame(
        [(1, [1.0, -2.5], [0.0, 0.5]), (2, [9.0, 8.0, 7.0], [0.0, 0.25, -1.0])],
        "vec_id long, re array<double>, im array<double>",
    )
    d = str(tmp_path / "waves")
    write_wave_files(src, d).collect()
    (tmp_path / "waves" / "bad.wave").write_bytes(b"\x05\x00\x00\x00oops")

    wave_datasource.register(spark)
    df = spark.read.format("wave").load(d)
    rows = {os.path.basename(r.path): r for r in df.collect()}
    assert set(rows) == {"1.wave", "2.wave", "bad.wave"}
    assert rows["1.wave"].re == [1.0, -2.5] and rows["1.wave"].im == [0.0, 0.5]
    assert rows["2.wave"].n_samples == 3 and rows["2.wave"].re == [9.0, 8.0, 7.0]
    assert rows["bad.wave"].re is None and rows["bad.wave"].n_samples is None
    # empty directory: valid zero-row relation
    empty = str(tmp_path / "none")
    os.makedirs(empty)
    assert spark.read.format("wave").load(empty).count() == 0

    # metaOnly: header-only scan — real n_samples, NULL arrays (the
    # manual pruning knob; the Python DataSource API has no column
    # pruning pushdown), corrupt header still -> NULL row
    meta = {
        os.path.basename(r.path): r
        for r in spark.read.format("wave").option("metaOnly", "true").load(d).collect()
    }
    assert meta["2.wave"].n_samples == 3 and meta["2.wave"].re is None
    assert meta["bad.wave"].n_samples is None  # claims 5 samples, body truncated


# --- reproducible sharded export + integrity manifest ------------------------


def test_write_training_shards_reproducible_and_verified(spark, tmp_path):
    from electrician_spark.io import (
        read_table,
        verify_training_shards,
        write_training_shards,
    )
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text", "lang")
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    m_a = {r.shard: r for r in write_training_shards(docs, out_a, n_shards=4).collect()}
    m_b = {r.shard: r for r in write_training_shards(docs, out_b, n_shards=4).collect()}
    assert len(m_a) == 4
    # same data + seed -> byte-identical shards (hash equality per shard)
    assert {s: r.sha256 for s, r in m_a.items()} == {s: r.sha256 for s, r in m_b.items()}
    assert sum(r.rows for r in m_a.values()) == docs.count()
    # a different seed is a different permutation -> different bytes
    m_c = {r.shard: r for r in write_training_shards(
        docs, str(tmp_path / "c"), n_shards=4, seed=1).collect()}
    assert {r.sha256 for r in m_c.values()} != {r.sha256 for r in m_a.values()}

    # shard MEMBERSHIP is derived from the md5 key alone ((key·n) >> 32)
    # — never from sampled range boundaries, so membership cannot shift
    # between exports even when range sampling would subsample
    import hashlib

    back = spark.read.json(str(tmp_path / "a")).select("doc_id", "shard").collect()
    for r in back:
        key = int(hashlib.md5(f"0:{r.doc_id}".encode()).hexdigest()[:8], 16)
        assert (key * 4) >> 32 == int(r.shard)

    # verification passes on intact shards
    v = verify_training_shards(spark, out_a).collect()
    assert len(v) == 4 and all(r.ok for r in v)

    # ... and flags tampering (in-place, same length: Spark's session
    # file-status cache remembers sizes, and a length change mid-session
    # fails the read outright instead of reaching the hash compare)
    import glob

    victim = sorted(glob.glob(str(tmp_path / "a" / "shard=*" / "part-*")))[0]
    with open(victim, "r+b") as fh:
        fh.seek(12)
        fh.write(b"TAMPERED")
    # drop Hadoop's local-FS .crc sidecar for the victim — an attacker
    # rewrites it; without this the read layer (not the manifest) trips
    import os

    crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    v2 = {r.shard: r.ok for r in verify_training_shards(spark, out_a).collect()}
    assert sum(1 for ok in v2.values() if not ok) == 1


def test_orc_roundtrip_pushdown_and_partitioning(spark, tmp_path):
    """ORC source/sink: value-exact roundtrip vs the parquet source of
    truth; filters and projection reach the ORC scan (the parquet-scan
    posture, same vectorized reader family); hive partition columns
    prune at read time."""
    orders = eio.read_table(spark, SF_SMOKE, "orders")
    path = str(tmp_path / "orders_orc")
    eio.write_orc(orders, path, compression="zstd")
    assert glob.glob(os.path.join(path, "*.orc"))
    back = eio.read_orc(spark, path)
    a = {r.o_orderkey: r.o_totalprice for r in back.collect()}
    b = {r.o_orderkey: r.o_totalprice for r in orders.collect()}
    assert a == b

    q = back.filter(F.col("o_orderkey") > 100).select("o_orderkey", "o_totalprice")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThan(o_orderkey,100)" in plan  # pushed to ORC scan
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>" in plan

    part = str(tmp_path / "orders_orc_part")
    eio.write_orc(
        orders.withColumn("bucket", (F.col("o_orderkey") % 4).cast("int")),
        part,
        partition_by=["bucket"],
    )
    assert os.path.isdir(os.path.join(part, "bucket=0"))
    pruned = eio.read_orc(spark, part).filter(F.col("bucket") == 2)
    pplan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in pplan and "bucket" in pplan  # dir-level prune
    assert pruned.count() == orders.filter(F.col("o_orderkey") % 4 == 2).count()


def test_zorder_rejects_non_numeric_column(spark):
    # A string column casts to all-NULL doubles: every row would
    # silently rank-code to constant 0 (no clustering, no pruning) —
    # reject instead (r15 review finding).
    import pytest

    from electrician_spark.io import zorder_code

    df = spark.createDataFrame([(1, "us"), (2, "de")], "v long, country string")
    with pytest.raises(ValueError, match="country"):
        zorder_code(df, ["v", "country"])


def test_time_partitions_follow_template_order(spark):
    # The returned partition-column order IS the directory layout; a
    # non-canonical template like {HH}/{yyyy} must not silently become
    # yyyy/HH (r15 review finding).
    from pyspark.sql import functions as F

    from electrician_spark.io import with_time_partitions

    df = spark.createDataFrame([("2024-03-05 07:00:00",)], "s string").select(
        F.col("s").cast("timestamp").alias("ts")
    )
    _, cols = with_time_partitions(df, "ts", "{HH}/{yyyy}/{MM}")
    assert cols == ["_hh", "_yyyy", "_mm"], cols
    _, cols2 = with_time_partitions(df, "ts", "{yyyy}/{MM}/{HH}")
    assert cols2 == ["_yyyy", "_mm", "_hh"], cols2
