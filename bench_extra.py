"""Instrumented per-substep measurement harness (guide §1: measure
first; noop-sink isolation §1.4). NOT the official bench — bench.py is
frozen; this file exists to attribute phase time to sub-steps so the
optimization work targets the right operator. Prints one JSON line.

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_ROWS (default 1M,
matching the driver's sf1.0 scale), EXTRA_SECTIONS=maint,analytics.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    n_rows = int(os.environ.get("BENCH_ROWS", "1000000"))
    sections = os.environ.get("EXTRA_SECTIONS", "maint,analytics").split(",")

    from pi2spark.session import get_spark
    from pi2spark.synth import synthesize_source_files

    spark = get_spark("pi2spark-bench-extra", cores=cpus)
    sc = spark.sparkContext
    t: dict[str, float] = {}

    def clock(name):
        class _T:
            def __enter__(self):
                sc.setJobDescription(name)
                self.t0 = time.time()

            def __exit__(self, *a):
                t[name] = round(time.time() - self.t0, 3)
                print(f"## {name}: {t[name]}", flush=True)
                sc.setJobDescription(None)

        return _T()

    if "maint" in sections:
        from pi2spark.crypto import broadcast_keys, decrypt_table, encrypt_table
        from pi2spark.maintenance import (
            cluster,
            compact,
            expire_snapshots,
            shred as shred_pass,
        )
        from pi2spark.registry import KeyRegistry
        from pi2spark.spec import ProtectionSpec
        from pi2spark.table import Table, collect_data_files
        from pi2spark.verify import content_digest

        n_small_files = max(8, n_rows // 500)
        plain = synthesize_source_files(
            spark, n_rows, seed=42, partitions=n_small_files, max_len=50_000
        ).cache()
        plain.count()

        root = tempfile.mkdtemp(prefix="pi2spark-extra-")
        try:
            spec = ProtectionSpec.for_source_files()
            reg = KeyRegistry(os.path.join(root, "kms.jsonl"))
            reg.register_from_df(plain.select("repo").distinct())
            keys = broadcast_keys(spark, reg.key_map())
            tbl = Table.create(os.path.join(root, "tbl"))

            # --- encrypt_append broken into write vs stats vs commit
            enc = encrypt_table(plain, spec, keys)
            with clock("enc.noop_encrypt_only"):
                noop(enc)
            rel_dir, abs_dir = tbl.new_data_dir("append")
            tbl._persist_schema(enc.schema)
            with clock("enc.write_parquet"):
                enc.write.mode("append").parquet(abs_dir)
            rels = [
                os.path.join(rel_dir, n)
                for n in sorted(os.listdir(abs_dir))
                if n.endswith(".parquet")
            ]
            with clock("enc.collect_stats"):
                files = collect_data_files(
                    tbl.root, rels, tbl.stats_columns(), bloom_cols=tbl.bloom_columns(),
                )
            with clock("enc.commit"):
                tbl.commit("append", added=files)

            input_bytes = sum(f.bytes for f in files)
            target_bytes = max(input_bytes // 64, 8 << 20)

            with clock("compact.total"):
                compact(tbl, spark, target_file_bytes=target_bytes, concurrency=cpus)

            # --- zorder broken into key+shuffle+write vs stats
            from pi2spark.zorder import (
                column_boundaries_from_stats,
                with_cluster_key,
            )
            from pyspark.sql import functions as F

            snap = tbl.snapshot()
            in_files = snap.files
            total_bytes = sum(f.bytes for f in in_files)
            n_files = max(1, round(total_bytes / target_bytes))
            with clock("z.boundaries_stats"):
                boundaries = column_boundaries_from_stats(
                    in_files, ["repo", "lang", "path"], bits=16
                )
            df = tbl.apply_schema_ops(
                tbl.reader(spark).parquet(
                    *[os.path.join(tbl.root, f.path) for f in in_files]
                )
            )
            if boundaries is None:
                from pi2spark.zorder import column_boundaries

                with clock("z.boundaries_sample"):
                    if len(in_files) > 32:
                        stride = len(in_files) / 32.0
                        subset = [in_files[int(i * stride)] for i in range(32)]
                        sample_src = tbl.apply_schema_ops(
                            tbl.reader(spark).parquet(
                                *[os.path.join(tbl.root, f.path) for f in subset]
                            )
                        )
                        subset_rows = sum(f.rows for f in subset)
                    else:
                        sample_src, subset_rows = df, sum(f.rows for f in in_files)
                    boundaries = column_boundaries(
                        sample_src, ["repo", "lang", "path"], bits=16,
                        sample_rows=20_000, total_rows=subset_rows,
                    )
            bc = sc.broadcast(boundaries)
            keyed = with_cluster_key(
                df, ("repo", "lang", "path"), bits=16, curve="morton",
                boundaries=boundaries, broadcast=bc,
            )
            with clock("z.zkey_udf_noop"):
                noop(keyed.select("zkey"))
            clustered = keyed.repartitionByRange(
                n_files, F.col("zkey"), F.col("commit")
            ).sortWithinPartitions("zkey")
            rel_dir, abs_dir = tbl.new_data_dir("zmeasure")
            tbl._persist_schema(clustered.schema)
            with clock("z.shuffle_sort_write"):
                clustered.write.mode("append").parquet(abs_dir)
            rels = [
                os.path.join(rel_dir, n)
                for n in sorted(os.listdir(abs_dir))
                if n.endswith(".parquet")
            ]
            with clock("z.collect_stats"):
                zfiles = collect_data_files(
                    tbl.root, rels, tbl.stats_columns(), bloom_cols=tbl.bloom_columns(),
                )
            with clock("z.commit"):
                tbl.commit_with_retry(
                    "morton", added=zfiles, removed_paths=[f.path for f in in_files],
                    summary={"cluster_columns": ["repo", "lang", "path"],
                             "curve": "morton", "bits": 16, "zkey_gen": "measure"},
                )

            counts = (
                tbl.scan(spark).groupBy("repo").count().orderBy("count", "repo").collect()
            )
            rare, mid = counts[0]["repo"], counts[len(counts) // 2]["repo"]
            reg.forget(rare)
            reg.forget(mid)
            with clock("shred.total"):
                shred_pass(tbl, spark, [rare, mid], target_file_bytes=target_bytes,
                           concurrency=cpus)
            with clock("expire.total"):
                expire_snapshots(tbl, keep_last=1)
            keys2 = broadcast_keys(spark, reg.key_map())
            with clock("verify.total"):
                digest = content_digest(decrypt_table(tbl.scan(spark), spec, keys2))
            t["digest"] = digest
        finally:
            shutil.rmtree(root, ignore_errors=True)
        plain.unpersist()

    if "analytics" in sections:
        import __spark_entry__ as entrymod

        qs = entrymod.queries()
        for name in [
            "pricing_summary", "exact_dedup", "minhash_dedup",
            "ann_topk", "quality_scores", "zorder_morton",
        ]:
            for trial in range(3):
                with clock(f"q.{name}.{trial}"):
                    noop(qs[name](spark, sf_dir))

    print(json.dumps(t))


if __name__ == "__main__":
    main()
