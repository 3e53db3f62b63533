"""The shred rewrite: one pyarrow task per affected file, 1:1.

Covers the layout it must keep (rows, row order, zkey range, the
cluster merge path afterwards), the tombstone rule it must share with
the Spark definition (NULL subjects, NULL stored flags, two envelope
columns, a file without the flag column, dropped columns), its job
count, and timestamps — this package's INT64 ones and the INT96 ones of
files Spark's own writer produced — through both users of the Arrow
group writer."""

import datetime
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pi2spark.maintenance import cluster, shred
from pi2spark.table import Table, collect_data_files


def _rows(n):
    return [
        (f"org{i % 23:02d}/r", f"src/m{i % 7}/f{i}.py", f"{i:040x}",
         ["python", "go", "rust"][i % 3], f"content-{i}-" + "x" * 400)
        for i in range(n)
    ]


def _clustered_table(spark, root):
    df = spark.createDataFrame(
        _rows(3000), "repo string, path string, commit string, lang string, content string"
    ).withColumn("content_enc", F.encode("content", "utf-8")).drop("content").withColumn(
        "shredded", F.lit(False)
    )
    t = Table.create(root)
    t.append(df.repartition(8), spark)
    cluster(t, spark, target_file_bytes=8 << 10)
    return t


def test_shred_keeps_rows_order_and_zkey_range(spark, tmp_path):
    t = _clustered_table(spark, str(tmp_path / "tbl"))
    before = {f.path: f for f in t.snapshot().files}
    assert len(before) > 3
    res = shred(t, spark, ["org05/r"])
    assert res.details["affected_files"] == res.added_files < len(before)
    after = {f.path: f for f in t.snapshot().files}
    removed = [before[p] for p in before.keys() - after.keys()]
    added = [after[p] for p in after.keys() - before.keys()]
    assert len(removed) == len(added) == res.added_files

    # 1:1 — each output has its input's row count, zkey range and row
    # order (inputs are still on disk: nothing expired them)
    by_range = {tuple(f.stats["zkey"]): f for f in removed}
    assert len(by_range) == len(removed)
    for out in added:
        src = by_range[tuple(out.stats["zkey"])]
        assert out.rows == src.rows
        cols = ["zkey", "commit"]
        got = pq.read_table(os.path.join(t.root, out.path), columns=cols)
        want = pq.read_table(os.path.join(t.root, src.path), columns=cols)
        assert got.equals(want)

    # the layout survives: a re-cluster with the same parameters still
    # takes the no-shuffle merge path
    r = cluster(t, spark, target_file_bytes=8 << 10)
    assert r.details.get("mode") == "merge-no-shuffle"
    scan = t.scan(spark)
    assert scan.filter((F.col("repo") == "org05/r") & F.col("content_enc").isNotNull()).count() == 0
    assert scan.filter((F.col("repo") == "org05/r") & ~F.col("shredded")).count() == 0
    assert scan.filter(F.col("shredded")).count() == scan.filter(F.col("repo") == "org05/r").count()


def test_tombstone_matches_spark_rule(spark, tmp_path):
    """NULL subjects never hit, NULL stored flags coalesce to false
    before the OR, and every listed envelope column is erased."""
    data = [
        ("alice", b"a1", b"b1", None),
        ("alice", b"a2", None, False),
        ("alice", None, b"b3", True),
        ("bob", b"a4", b"b4", None),
        ("bob", b"a5", b"b5", True),
        (None, b"a6", b"b6", None),
        (None, b"a7", b"b7", False),
        ("carol", b"a8", b"b8", False),
    ]
    schema = "repo string, a_enc binary, b_enc binary, shredded boolean"
    src = spark.createDataFrame(data, schema)
    t = Table.create(str(tmp_path / "tbl"), properties={"stats.columns": ["repo"]})
    t.append(src.repartition(1), spark)
    shred(t, spark, ["alice", "carol"], envelope_columns=("a_enc", "b_enc"))

    # the Spark definition the Arrow tombstone must reproduce
    hit = F.coalesce(F.col("repo").isin("alice", "carol"), F.lit(False))
    want = src.select(
        "repo",
        F.when(hit, F.lit(None)).otherwise(F.col("a_enc")).alias("a_enc"),
        F.when(hit, F.lit(None)).otherwise(F.col("b_enc")).alias("b_enc"),
        (F.coalesce(F.col("shredded"), F.lit(False)) | hit).alias("shredded"),
    )
    key = lambda r: (r.repo or "", r.a_enc or b"", r.b_enc or b"", str(r.shredded))  # noqa: E731
    assert sorted(t.scan(spark).collect(), key=key) == sorted(want.collect(), key=key)


def test_shred_adds_missing_flag_column(spark, tmp_path):
    """A file written before the table gained ``shredded`` gets the flag
    (hit rows true, every other row false), visible through the table
    scan and through Spark's own footer schema."""
    df = spark.createDataFrame(
        [("alice", b"c1"), ("bob", b"c2")], "repo string, content_enc binary"
    )
    t = Table.create(str(tmp_path / "tbl"), properties={"stats.columns": ["repo"]})
    t.append(df.repartition(1), spark)
    t.add_column("shredded", "boolean")
    shred(t, spark, ["alice"])
    got = {
        (r.repo, r.content_enc and bytes(r.content_enc), r.shredded)
        for r in t.scan(spark).collect()
    }
    assert got == {("alice", None, True), ("bob", b"c2", False)}
    (f,) = t.snapshot().files
    raw = spark.read.parquet(os.path.join(t.root, f.path))
    assert "shredded" in raw.columns


def test_shred_erases_dropped_columns_on_hit_rows(spark, tmp_path):
    """The 1:1 rewrite is bound to the logical schema: a dropped
    column's bytes leave the rewritten file for every row, a forgotten
    subject's included."""
    df = spark.createDataFrame(
        [("alice", b"c1", b"x1"), ("bob", b"c2", b"x2")],
        "repo string, content_enc binary, extra_enc binary",
    ).withColumn("shredded", F.lit(False))
    t = Table.create(str(tmp_path / "tbl"), properties={"stats.columns": ["repo"]})
    t.append(df.repartition(1), spark)
    t.drop_column("extra_enc")
    shred(t, spark, ["alice"])
    (f,) = t.snapshot().files
    raw = pq.read_table(os.path.join(t.root, f.path))
    assert "extra_enc" not in raw.column_names
    assert {(r["repo"], r["content_enc"]) for r in raw.to_pylist()} == {("alice", None), ("bob", b"c2")}


def test_one_spark_job_per_shred_wave(spark, tmp_path):
    t = _clustered_table(spark, str(tmp_path / "tbl"))
    sc = spark.sparkContext
    sc.setJobGroup("shred-one-wave", "shred")
    try:
        res = shred(t, spark, ["org00/r", "org11/r"])
    finally:
        sc.setJobGroup(None, None)
    assert res.added_files >= 2
    jobs = sc.statusTracker().getJobIdsForGroup("shred-one-wave")
    assert len(jobs) == 1


def _timestamp_frame(spark):
    rows = [
        (f"org{i % 5}/r", f"f{i}.py", ["go", "rust"][i % 2], b"c%d" % i,
         datetime.datetime(2020, 1, 2, 3, 4, 5, i) if i % 7 else datetime.datetime(1500, 1, 1, 0, 0, 0, i))
        for i in range(400)
    ]
    return spark.createDataFrame(
        rows, "repo string, path string, lang string, content_enc binary, ts timestamp"
    ).withColumn("shredded", F.lit(False))


def _check_timestamps_through_merge_and_shred(spark, t, want):
    cluster(t, spark, target_file_bytes=8 << 10)
    r = cluster(t, spark, target_file_bytes=16 << 10)
    assert r.details.get("mode") == "merge-no-shuffle"
    assert {(x.path, x.ts) for x in t.scan(spark).collect()} == want
    shred(t, spark, ["org3/r"])
    got = t.scan(spark).collect()
    assert {(x.path, x.ts) for x in got} == want
    assert {x.repo for x in got if x.shredded} == {"org3/r"}


def test_timestamps_survive_arrow_rewrites(spark, tmp_path):
    """The Arrow group writer must write timestamps back in a form
    Spark reads with the same values, on the cluster merge path and on
    shred (including pre-1678 instants, which overflow nanoseconds)."""
    df = _timestamp_frame(spark)
    want = {(r.path, r.ts) for r in df.collect()}
    t = Table.create(str(tmp_path / "tbl"))
    t.append(df.repartition(4), spark)
    _check_timestamps_through_merge_and_shred(spark, t, want)


def test_int96_timestamps_survive_arrow_rewrites(spark, tmp_path):
    """Files of older versions were written by Spark's own writer, with
    INT96 timestamps: the group writer still reads them at microseconds
    through the merge path and shred."""
    df = _timestamp_frame(spark)
    want = {(r.path, r.ts) for r in df.collect()}
    t = Table.create(str(tmp_path / "tbl"))
    rel_dir, abs_dir = t.new_data_dir("spark-writer")
    df.repartition(4).write.mode("append").parquet(abs_dir)
    rels = [os.path.join(rel_dir, n) for n in sorted(os.listdir(abs_dir)) if n.endswith(".parquet")]
    schema = pq.ParquetFile(os.path.join(t.root, rels[0])).schema
    assert {schema.column(i).name: schema.column(i).physical_type for i in range(len(schema))}[
        "ts"
    ] == "INT96"
    t._persist_schema(df.schema)
    t.commit(
        "append",
        added=collect_data_files(t.root, rels, t.stats_columns(), bloom_cols=t.bloom_columns()),
    )
    _check_timestamps_through_merge_and_shred(spark, t, want)
