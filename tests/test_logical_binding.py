"""One logical-schema binder for every reader and every Arrow rewrite.

After ``rename_column`` / ``add_column`` / ``drop_column`` (no append
after the evolution), each Arrow rewrite — shred, the one-task cluster
and the no-shuffle cluster merge — must keep every row's logical values,
write its outputs under the logical schema, and leave the ``pi2spark``
source reading exactly what ``Table.scan`` reads. Names that the union
schema or an earlier schema op used cannot be reused for a new column."""

import os
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pi2spark.datasource import register
from pi2spark.errors import Pi2SparkError
from pi2spark.maintenance import cluster, delete_where, shred
from pi2spark.table import ColumnPredicate, Table

SCHEMA = "repo string, path string, commit string, lang string, extra string"
VICTIM = "org03/r"


def _rows(n):
    return [
        (f"org{i % 11:02d}/r", f"src/p{i:04d}.py", f"{i:040x}", ["go", "rust", "py"][i % 3], f"x{i}")
        for i in range(n)
    ]


def _clustered(spark, root, n=1200, files=4):
    """A table of about ``files`` clustered files (disjoint zkey ranges,
    recorded provenance), so an unchanged re-cluster takes the merge."""
    df = (
        spark.createDataFrame(_rows(n), SCHEMA)
        .withColumn("content_enc", F.encode(F.concat(F.lit("c-"), "path", F.lit("y" * 300)), "utf-8"))
        .withColumn("shredded", F.lit(False))
    )
    t = Table.create(root)
    t.append(df.repartition(4), spark)
    cluster(t, spark, target_file_bytes=sum(f.bytes for f in t.snapshot().files) // files)
    assert len(t.snapshot().files) >= 3
    return t


def _bag(df):
    """The rows of ``df`` as a multiset, independent of column order."""
    return Counter(tuple(sorted(r.asDict().items())) for r in df.collect())


def _assert_datasource_matches_scan(spark, t):
    register(spark)
    via_ds = spark.read.format("pi2spark").load(t.root)
    via_scan = t.scan(spark)
    assert sorted(via_ds.columns) == sorted(via_scan.columns)
    assert _bag(via_ds) == _bag(via_scan)


EVOLUTIONS = {
    "rename": (lambda t: t.rename_column("lang", "language"), ["repo", "language", "path"]),
    "add": (lambda t: t.add_column("stars", "bigint"), ["repo", "lang", "path"]),
    "drop": (lambda t: t.drop_column("extra"), ["repo", "lang", "path"]),
}


def _shred(t, spark, columns):
    res = shred(t, spark, [VICTIM])
    assert not res.skipped

    def expect(r):
        if r["repo"] == VICTIM:
            return {**r, "content_enc": None, "shredded": True}
        return r

    return expect


def _one_task(t, spark, columns):
    res = cluster(t, spark, columns=columns, target_file_bytes=64 << 20, merge_if_sorted=False)
    assert res.details["mode"] == "one-task"
    return None


def _merge(t, spark, columns):
    # a Spark-planned delete in the first file first: the merge then
    # concatenates its output (already under the logical schema) with
    # files written before the evolution
    gone = min(f.stats["zkey"][0] for f in t.snapshot().files)
    res = delete_where(t, spark, [ColumnPredicate("zkey", "eq", value=gone)])
    assert res.rewritten_files == 1 and res.details["deleted_rows"] >= 1
    res = cluster(t, spark, columns=columns, target_file_bytes=64 << 20)
    assert res.details["mode"] == "merge-no-shuffle"
    return lambda r: None if r["zkey"] == gone else r


PASSES = {"shred": _shred, "one-task": _one_task, "merge-no-shuffle": _merge}


@pytest.mark.parametrize("evolution", sorted(EVOLUTIONS))
@pytest.mark.parametrize("pass_name", sorted(PASSES))
def test_arrow_rewrites_after_schema_evolution(spark, tmp_path, pass_name, evolution):
    t = _clustered(spark, str(tmp_path / "tbl"))
    evolve, columns = EVOLUTIONS[evolution]
    evolve(t)
    before = t.scan(spark).collect()
    old_paths = {f.path for f in t.snapshot().files}

    expect = PASSES[pass_name](t, spark, columns)

    after = t.scan(spark)
    logical = set(after.columns)
    if expect is None:  # re-keyed: every row but its zkey is unchanged
        assert _bag(after.drop("zkey")) == Counter(
            tuple(sorted((k, v) for k, v in r.asDict().items() if k != "zkey")) for r in before
        )
    else:
        want = (expect(r.asDict()) for r in before)
        assert _bag(after) == Counter(tuple(sorted(r.items())) for r in want if r is not None)
    # every output of the pass is written under the logical schema
    added = [f for f in t.snapshot().files if f.path not in old_paths]
    assert added
    for f in added:
        assert set(pq.read_schema(os.path.join(t.root, f.path)).names) <= logical
    _assert_datasource_matches_scan(spark, t)


def test_merge_after_rename_and_delete_binds_the_renamed_column(spark, tmp_path):
    """A rename, a Spark-planned delete (its output carries the new
    name) and a no-shuffle merge of that output with pre-rename files:
    the merged file carries one ``language`` column whose stats cover
    every row, and the ``pi2spark`` source reads what ``Table.scan``
    reads."""
    t = _clustered(spark, str(tmp_path / "tbl"), n=3000, files=6)
    t.rename_column("lang", "language")
    res = delete_where(t, spark, [ColumnPredicate("path", "eq", value="src/p0007.py")])
    assert res.details["deleted_rows"] == 1
    res = cluster(t, spark, columns=["repo", "language", "path"], target_file_bytes=1 << 30)
    assert res.details["mode"] == "merge-no-shuffle"
    register(spark)
    for df in (t.scan(spark), spark.read.format("pi2spark").load(t.root)):
        assert df.count() == 2999 and df.filter(F.col("language").isNull()).count() == 0
    _assert_datasource_matches_scan(spark, t)
    (out,) = t.snapshot().files
    names = pq.read_schema(os.path.join(t.root, out.path)).names
    assert "language" in names and "lang" not in names
    assert out.rows == 2999
    assert out.nulls["language"] == 0 and out.stats["language"] == ["go", "rust"]


def _small(spark, root):
    t = Table.create(root)
    t.append(spark.createDataFrame([(1, 2, 3)], "id int, v int, w int"), spark)
    return t


def test_a_new_column_cannot_reuse_a_renamed_away_name(spark, tmp_path):
    """Without field ids a reused name binds old files' bytes: after
    ``v`` became ``x``, neither ``add_column`` nor a rename may name a
    column ``v`` again, and the refusal leaves the schema as it was."""
    t = _small(spark, str(tmp_path / "a"))
    t.rename_column("v", "x")
    ops = t.schema_ops()
    with pytest.raises(Pi2SparkError, match="'v'"):
        t.add_column("v", "int")
    with pytest.raises(Pi2SparkError, match="'v'"):
        t.rename_column("w", "v")
    assert t.schema_ops() == ops
    assert {r.x for r in t.scan(spark).collect()} == {2}

    # a name never used is free, and the table reads as before
    t.add_column("note", "string")
    t.rename_column("w", "w2")
    assert [(r.id, r.x, r.w2, r.note) for r in t.scan(spark).collect()] == [(1, 2, 3, None)]
