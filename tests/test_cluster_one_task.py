"""Clustering a backlog that makes one output file: one pyarrow task.

Covers the job count (one Spark job), the row order and keys it must
share with the key UDF (NULLs included), the manifest stats it returns,
logical columns across a rename (including a group mixing both sides of
it), crash-resume with the same pass_id, and — for the range-shuffle
path that larger passes keep — the boundaries broadcast it must not
leak."""

import os

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import pi2spark.maintenance as M
from pi2spark.maintenance import cluster
from pi2spark.table import Table, _footer_stats
from pi2spark.zorder import sample_bounds, with_cluster_key

SCHEMA = "repo string, path string, commit string, lang string, content string"
COLS = ["repo", "lang", "path"]


def _rows(lo, hi):
    # every 11th row has a NULL lang: bucketing must treat NULL the
    # same way on both writers
    return [
        (f"org{i % 17:02d}/r", f"src/m{i % 5}/f{i}.py", f"{i:040x}",
         None if i % 11 == 0 else ["python", "go", "rust"][i % 3], f"c{i}-" + "y" * 200)
        for i in range(lo, hi)
    ]


def _table(spark, root, n=600):
    t = Table.create(root)
    t.append(spark.createDataFrame(_rows(0, n), SCHEMA).repartition(4), spark)
    return t


def _quarter(t):
    """A target file size that makes the table about four files."""
    return sum(f.bytes for f in t.snapshot().files) // 4


def _new_file(t, before):
    (added,) = [f for f in t.snapshot().files if f.path not in before]
    return added


@pytest.mark.parametrize("curve", ["morton", "hilbert"])
def test_one_task_order_and_keys_match_the_udf(spark, tmp_path, curve):
    t = _table(spark, str(tmp_path / "tbl"))
    res = cluster(t, spark, curve=curve, bits=10, target_file_bytes=64 << 20)
    assert res.details["mode"] == "one-task" and res.added_files == 1
    out = t.snapshot().files[0]
    got = pq.read_table(os.path.join(t.root, out.path))
    assert got.num_rows == 600

    # rows are in (zkey, tiebreak) order; the table has commit
    keys = list(zip(got["zkey"].to_pylist(), got["commit"].to_pylist()))
    assert keys == sorted(keys)

    # the same boundaries through the key UDF give the same key per row
    # (600 rows < sample_rows: the task's boundaries use every row)
    bounds = {c: sample_bounds(got[c].to_pandas(), 10) for c in COLS}
    assert bounds["lang"] == ["go", "python", "rust"]
    df = spark.read.parquet(os.path.join(t.root, out.path)).drop("zkey")
    udf_keys = {
        r.commit: r.zkey
        for r in with_cluster_key(df, COLS, bits=10, curve=curve, boundaries=bounds).collect()
    }
    assert udf_keys == dict(zip(got["commit"].to_pylist(), got["zkey"].to_pylist()))

    # the manifest entry is the written file's footer stats and bloom
    rows, size, stats, blooms, nulls = _footer_stats(
        os.path.join(t.root, out.path), t.stats_columns(), t.bloom_columns()
    )
    assert (out.rows, out.bytes, out.stats, out.blooms, out.nulls) == (rows, size, stats, blooms, nulls)
    assert out.stats["zkey"] == [min(got["zkey"].to_pylist()), max(got["zkey"].to_pylist())]
    assert "zkey" in [f.name for f in t.data_schema().fields]


def test_one_file_incremental_cluster_runs_one_spark_job(spark, tmp_path):
    t = _table(spark, str(tmp_path / "tbl"))
    target = _quarter(t)
    res = cluster(t, spark, target_file_bytes=target, bits=10)
    assert res.details["mode"] == "shuffle"
    before = {f.path for f in t.snapshot().files}
    assert len(before) > 2
    t.append(spark.createDataFrame(_rows(600, 700), SCHEMA).coalesce(1), spark)

    sc = spark.sparkContext
    sc.setJobGroup("cluster-one-task", "one-file incremental cluster")
    try:
        res = cluster(t, spark, target_file_bytes=target, bits=10, incremental=True)
    finally:
        sc.setJobGroup(None, None)
    assert res.details["mode"] == "one-task"
    assert res.rewritten_files == 1 and res.added_files == 1
    assert len(sc.statusTracker().getJobIdsForGroup("cluster-one-task")) == 1
    assert before <= {f.path for f in t.snapshot().files}
    scan = t.scan(spark)
    assert scan.count() == 700 and scan.filter(F.col("zkey").isNull()).count() == 0


def test_cluster_over_a_rename_uses_logical_values(spark, tmp_path):
    """A backlog written before ``repo`` became ``owner`` clusters on the
    logical column and writes it under the logical name; a later group
    holding both sides of the rename coalesces them into one column, so
    its stats cover every row."""
    t = _table(spark, str(tmp_path / "tbl"))
    t.rename_column("repo", "owner")
    cols = ["owner", "lang", "path"]
    res = cluster(t, spark, columns=cols, bits=10, target_file_bytes=64 << 20)
    assert res.details["mode"] == "one-task"
    out = t.snapshot().files[0]
    got = pq.read_table(os.path.join(t.root, out.path))
    assert "owner" in got.column_names and "repo" not in got.column_names
    bounds = {c: sample_bounds(got[c].to_pandas(), 10) for c in cols}
    assert bounds["owner"][0] == "org00/r"

    scan = t.scan(spark)
    assert "repo" not in scan.columns and "owner" in scan.columns
    assert sorted(r.owner for r in scan.select("owner").collect()) == sorted(r[0] for r in _rows(0, 600))
    udf = with_cluster_key(scan.drop("zkey"), cols, bits=10, boundaries=bounds)
    assert {r.commit: r.zkey for r in udf.collect()} == {r.commit: r.zkey for r in scan.collect()}

    # post-rename rows beside the pre-rename file: one mixed group
    later = spark.createDataFrame(_rows(600, 650), SCHEMA).withColumnRenamed("repo", "owner")
    t.append(later.coalesce(1), spark)
    before = {f.path for f in t.snapshot().files}
    res = cluster(t, spark, columns=cols, bits=10, target_file_bytes=64 << 20)
    assert res.details["mode"] == "one-task" and res.rewritten_files == 2
    mixed = _new_file(t, before)
    names = pq.read_schema(os.path.join(t.root, mixed.path)).names
    assert "owner" in names and "repo" not in names
    owners = [r[0] for r in _rows(0, 650)]
    assert mixed.stats["owner"] == [min(owners), max(owners)]
    assert mixed.nulls["owner"] == 0
    # a schema-less Spark read sees the file's real columns
    raw = spark.read.parquet(os.path.join(t.root, mixed.path))
    assert "zkey" in raw.columns and "repo" not in raw.columns
    scan = t.scan(spark)
    assert sorted(r.owner for r in scan.select("owner").collect()) == sorted(owners)
    assert scan.filter(F.col("zkey").isNull()).count() == 0


def test_one_task_cluster_resumes_with_the_same_files(spark, tmp_path, monkeypatch):
    t = _table(spark, str(tmp_path / "tbl"))
    orig_commit = Table.commit_with_retry

    def crash(self, *a, **kw):
        raise RuntimeError("simulated crash before commit")

    monkeypatch.setattr(Table, "commit_with_retry", crash)
    with pytest.raises(RuntimeError):
        cluster(t, spark, pass_id="resume-one-task", target_file_bytes=64 << 20)
    monkeypatch.setattr(Table, "commit_with_retry", orig_commit)
    assert t.current_snapshot_id() == 1
    recorded = M.PassLedger(t.root, "resume-one-task").task_result("rewrite")["outputs"]

    calls = []
    orig_rw = M.rewrite_file_groups
    monkeypatch.setattr(
        M, "rewrite_file_groups", lambda *a, **kw: calls.append(1) or orig_rw(*a, **kw)
    )
    res = cluster(t, spark, pass_id="resume-one-task", target_file_bytes=64 << 20)
    assert not res.skipped and not calls
    assert [f.to_json() for f in t.snapshot().files] == recorded
    assert t.snapshots()[-1]["summary"]["zkey_gen"] == "resume-one-task"
    assert cluster(t, spark, pass_id="resume-one-task", target_file_bytes=64 << 20).skipped


def test_shuffle_cluster_leaves_no_broadcast_files(spark, tmp_path):
    t = _table(spark, str(tmp_path / "tbl"))
    temp = spark.sparkContext._temp_dir
    n0 = len(os.listdir(temp))
    target = _quarter(t)
    for _ in range(2):
        res = cluster(t, spark, target_file_bytes=target, bits=10, merge_if_sorted=False)
        assert res.details["mode"] == "shuffle"
    assert len(os.listdir(temp)) == n0


def test_sample_bounds_match_column_boundaries(spark):
    """The task's boundaries and the driver sample's share one quantile
    step: over a full sample they agree."""
    from pi2spark.zorder import column_boundaries

    df = spark.createDataFrame(_rows(0, 300), SCHEMA)
    pdf = pd.DataFrame(_rows(0, 300), columns=["repo", "path", "commit", "lang", "content"])
    want = column_boundaries(df, COLS, bits=6, sample_rows=10_000, total_rows=300)
    assert want == {c: sample_bounds(pdf[c], 6) for c in COLS}
