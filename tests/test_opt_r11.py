"""Focused tests for the r11 optimization round's operator-internal changes:
write-task sizing, the shared slot plan, driver-side tiny-meta IO, and the
streaming state-partition scope."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from codecdb_queryengine_spark.sources import ann_index as AI
from codecdb_queryengine_spark.sources import io as IO


def test_write_task_count_bounds(spark):
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert IO.size_tasks(spark, 0, 16) == 1
    assert IO.size_tasks(spark, 1, 16) == 1
    assert IO.size_tasks(spark, 17, 16) == 2  # ceil(units / per_task)
    # never exceeds the session's shuffle parallelism (the cluster knob)
    assert IO.size_tasks(spark, 10**9, 16) == cap
    # monotone in the unit count
    assert IO.size_tasks(spark, 64, 16) <= IO.size_tasks(spark, 640, 16)


def test_slot_plan_matches_ceil_rule():
    assert AI._slot_plan({3: 1, 7: 16, 5: 17}, 16) == [(3, 1), (5, 2), (7, 1)]
    # zero-row lists are the caller's business; min 1 slot when present
    assert AI._slot_plan({1: 0}, 16) == [(1, 1)]


def test_tiny_meta_roundtrip_both_engines(spark, tmp_path, monkeypatch):
    """A metadata table written on either I/O path reads back identically,
    types included, on both: the pyarrow local path and the Spark path
    that serves schemed storage share one on-disk format."""
    import pyarrow as pa

    table = pa.table(
        {
            "i32": pa.array([7, None], type=pa.int32()),
            "i64": pa.array([2**40, -3], type=pa.int64()),
            "nul": pa.array([None, None], type=pa.int64()),
            "strs": pa.array([["a", "b"], []], type=pa.list_(pa.string())),
            "ints": pa.array([[1, -2], None], type=pa.list_(pa.int64())),
        }
    )

    def write(path):
        assert IO.meta_read(spark, path) is None
        IO.meta_write(spark, path, table)
        IO.meta_write(spark, path, table)  # a rewrite replaces the table

    by_pyarrow, by_spark = str(tmp_path / "meta_pa"), str(tmp_path / "meta_spark")
    write(by_pyarrow)
    with monkeypatch.context() as m:
        m.setattr(IO, "_local_fs_path", lambda p: None)
        write(by_spark)
        for p in (by_pyarrow, by_spark):
            assert IO.meta_read(spark, p).equals(table)
    for p in (by_pyarrow, by_spark):
        assert IO.meta_read(spark, p).equals(table)


def test_tiny_meta_col_max_exact(spark, tmp_path):
    p = str(tmp_path / "dg")
    spark.createDataFrame(
        [(1, 3), (2, 9), (3, 4)], "doc_id long, gen long"
    ).coalesce(1).write.mode("overwrite").parquet(p)
    assert IO.tiny_meta_col_max(p, "gen") == 9
    assert IO.tiny_meta_col_max(p, "missing_col") is None
    assert IO.tiny_meta_col_max("s3a://x/y", "gen") is None


def test_one_file_per_partition_dir_after_sized_build(spark, tmp_path):
    """The sized exchange must keep the one-file-per-directory layout the
    serve contract (and the swap bookkeeping) relies on."""
    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % 7 + i).cast("float") for i in range(4)]).alias(
            "embedding"
        ),
    )
    path = str(tmp_path / "idx")
    AI.ivf_index_build(emb, path, centroid_mod=29, max_list_rows=16)
    lists = os.path.join(path, "lists")
    for c_dir in os.listdir(lists):
        if not c_dir.startswith("c_list="):
            continue
        for slot_dir in os.listdir(os.path.join(lists, c_dir)):
            if not slot_dir.startswith("c_slot="):
                continue
            files = [
                f
                for f in os.listdir(os.path.join(lists, c_dir, slot_dir))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (c_dir, slot_dir, files)


def test_state_partition_scope_restores(spark):
    from codecdb_queryengine_spark.streaming import events as E

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with E.state_partition_scope(spark, 5):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # default policy: conf override wins, else max(8, parallelism/2)
    assert E.default_state_partitions(spark) >= 8
