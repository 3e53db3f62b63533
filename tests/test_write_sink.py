"""The one data-file writer (``table.write_data_file``) behind every
write path: ``Table.write_files`` as one Spark job whose tasks return
their own manifest entries, empty partitions that write nothing,
nullable output columns, and schema-less Spark reads of each writer's
output."""

import datetime
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pi2spark.crypto import ENVELOPE_FOR_KEY, broadcast_keys, encrypt_table
from pi2spark.datasource import register
from pi2spark.maintenance import (
    cluster,
    compact,
    delete_where,
    forget_and_shred,
    merge_into,
    rotate_and_reencrypt,
    shred,
)
from pi2spark.registry import KeyRegistry
from pi2spark.spec import ProtectionSpec
from pi2spark.synth import synthesize_source_files
from pi2spark.table import Table, _footer_stats

SPEC = ProtectionSpec.for_source_files()


def _frame(spark, n, partitions):
    return spark.range(0, n, numPartitions=partitions).select(
        F.when(F.col("id") % 11 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("org"), (F.col("id") % 7).cast("string")))
        .alias("repo"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
        F.lit("go").alias("lang"),
        F.timestamp_micros(F.col("id") * 1_000_003).alias("ts"),
        F.col("id").cast("string").cast("binary").alias("content_enc"),
        (F.col("id") / 7).alias("score"),
    )


def test_append_of_many_partitions_is_one_spark_job(spark, tmp_path):
    t = Table.create(str(tmp_path / "tbl"))
    sc = spark.sparkContext
    sc.setJobGroup("append-64", "append of 64 partitions")
    try:
        t.append(_frame(spark, 6400, 64), spark)
    finally:
        sc.setJobGroup(None, None)
    assert len(t.snapshot().files) == 64
    assert len(sc.statusTracker().getJobIdsForGroup("append-64")) == 1


def test_write_files_entries_equal_footer_stats(spark, tmp_path):
    t = Table.create(str(tmp_path / "tbl"))
    df = _frame(spark, 500, 5)
    files = t.write_files(df, spark, tag="w")
    assert len(files) == 5 and sum(f.rows for f in files) == 500
    assert [f.path for f in files] == sorted(f.path for f in files)
    for f in files:
        abs_path = os.path.join(t.root, f.path)
        rows, size, stats, blooms, nulls = _footer_stats(
            abs_path, t.stats_columns(), t.bloom_columns()
        )
        assert (f.rows, f.bytes, f.stats, f.blooms, f.nulls) == (rows, size, stats, blooms, nulls)
        assert f.nulls["repo"] > 0 and f.blooms["repo"]
        # every column optional, timestamps INT64, no dictionary for
        # floating-point values
        pf = pq.ParquetFile(abs_path)
        cols = [pf.schema.column(i) for i in range(len(pf.schema))]
        assert all(c.max_definition_level == 1 for c in cols)
        assert {c.name: c.physical_type for c in cols}["ts"] == "INT64"
        rg = pf.metadata.row_group(0)
        enc = {rg.column(i).path_in_schema: rg.column(i).encodings for i in range(rg.num_columns)}
        assert "RLE_DICTIONARY" in enc["repo"] and "RLE_DICTIONARY" not in enc["score"]
    d = os.path.join(t.root, os.path.dirname(files[0].path))
    assert sorted(os.listdir(d)) == sorted(os.path.basename(f.path) for f in files)


def test_empty_partitions_write_no_file(spark, tmp_path):
    t = Table.create(str(tmp_path / "tbl"))
    t.append(_frame(spark, 400, 4), spark)
    t.append(_frame(spark, 400, 4).limit(0), spark)
    assert len(t.snapshot().files) == 4
    # every row of the wave matches: each packed partition comes back
    # empty, so the pass commits no file and leaves none on disk
    res = delete_where(t, spark, [], extra_condition="length(path) > 0")
    assert res.rewritten_files == 4 and res.added_files == 0
    assert t.snapshot().files == [] and t.scan(spark).count() == 0
    on_disk = [n for _, _, names in os.walk(os.path.join(t.root, "data")) for n in names]
    assert len(on_disk) == 4  # the first append's files only


def test_nulls_written_into_a_non_nullable_source_column(spark, tmp_path):
    """``content_enc`` is non-nullable in the frame; the shred tombstone
    NULLs it on hit rows of the written file, leaving the others."""
    t = Table.create(str(tmp_path / "tbl"))
    df = _frame(spark, 300, 3).filter(F.col("repo").isNotNull())
    assert not df.schema["content_enc"].nullable
    t.append(df.withColumn("shredded", F.lit(False)), spark)
    want = {r.path: r.content_enc for r in df.collect()}
    shred(t, spark, ["org3"])
    got = t.scan(spark).collect()
    assert {r.path for r in got} == set(want)
    for r in got:
        assert r.shredded == (r.repo == "org3")
        assert r.content_enc == (None if r.shredded else want[r.path])


def test_schema_less_read_of_every_writer_round_trips(spark, tmp_path):
    """Each writer's files carry Spark's footer schema: a plain
    ``spark.read.parquet`` of the files a pass added restores the
    envelope marker and the timestamp type, and reads the same rows as
    the table's explicit-schema reader."""
    plain = synthesize_source_files(spark, 400, seed=17, partitions=4, max_len=300).withColumn(
        "ts", F.timestamp_seconds(F.crc32("path"))
    )
    reg = KeyRegistry()
    repos = sorted(r.repo for r in plain.select("repo").distinct().collect())
    reg.register_all(repos)
    keys = broadcast_keys(spark, reg.key_map_versioned())
    t = Table.create(str(tmp_path / "tbl"))
    cols = ["repo", "path", "ts", "content_enc", "shredded"]

    def rows(df):
        return sorted(
            r[0] for r in df.select(F.to_json(F.struct(*cols)).alias("j")).collect()
        )

    def check(writer, before):
        added = [f.path for f in t.snapshot().files if f.path not in before]
        assert added, writer
        paths = [os.path.join(t.root, p) for p in added]
        raw = spark.read.parquet(*paths)
        assert raw.schema["content_enc"].metadata.get(ENVELOPE_FOR_KEY) == "content", writer
        assert raw.schema["ts"].dataType == T.TimestampType(), writer
        assert rows(raw) == rows(t.reader(spark).parquet(*paths)), writer

    def run(writer, fn):
        before = {f.path for f in t.snapshot().files} if t.current_snapshot_id() else set()
        out = fn()
        check(writer, before)
        return out

    run("append", lambda: t.append(encrypt_table(plain, SPEC, keys).repartition(4), spark))
    target = sum(f.bytes for f in t.snapshot().files) // 4
    assert run("shuffle cluster", lambda: cluster(t, spark, target_file_bytes=target)).details[
        "mode"
    ] == "shuffle"
    more = synthesize_source_files(spark, 40, seed=18, partitions=1, max_len=300).withColumn(
        "ts", F.timestamp_seconds(F.crc32("path"))
    )
    reg.register_all(r.repo for r in more.select("repo").distinct().collect())
    keys = broadcast_keys(spark, reg.key_map_versioned())
    run("append", lambda: t.append(encrypt_table(more, SPEC, keys).coalesce(1), spark))
    res = run(
        "one-task cluster",
        lambda: cluster(t, spark, target_file_bytes=target, incremental=True),
    )
    assert res.details["mode"] == "one-task"
    run("compact", lambda: compact(t, spark, target_file_bytes=target * 16))
    victim = t.scan(spark).select("path").orderBy("path").first().path
    run(
        "delete_where",
        lambda: delete_where(t, spark, [], extra_condition=F.col("path") == victim),
    )
    some = [r.path for r in t.scan(spark).select("path").orderBy("path").limit(3).collect()]
    src = spark.createDataFrame(
        [(p, datetime.datetime(2001, 2, 3)) for p in some + ["new/x.py"]], "path string, ts timestamp"
    )
    run("merge_into", lambda: merge_into(t, spark, src, on="path"))
    run("reencrypt", lambda: rotate_and_reencrypt(t, spark, reg, repos[1]))
    run("shred", lambda: forget_and_shred(t, spark, reg, repos[2]))
    register(spark)
    run(
        "datasource",
        lambda: encrypt_table(more, SPEC, keys)
        .write.format("pi2spark")
        .mode("append")
        .save(t.root),
    )
    every = [os.path.join(t.root, f.path) for f in t.snapshot().files]
    assert rows(spark.read.parquet(*every)) == rows(t.scan(spark))
