"""Metadata tables (sources/io.meta_write / meta_read): crash atomicity of
a rewrite, and layouts addressed by `file:` URIs."""

import os

import pytest

from pyspark.sql import functions as F

from codecdb_queryengine_spark.catalog import load_tables
from codecdb_queryengine_spark.sources import ann_index as AI
from codecdb_queryengine_spark.sources import io as IO
from codecdb_queryengine_spark.sources import layout as L
from codecdb_queryengine_spark.sources import text_index as TI


def test_meta_rewrite_crash_before_promote_keeps_old_table(
    spark, tmp_path, monkeypatch
):
    """A crash while the new table is being written must leave the old
    one readable: an absent bucket meta would make _read_buckets fall back
    to the caller's modulus — a wrong-modulus prune."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "ti")
    TI._write_meta(spark, path, 8)

    def crash(*args, **kwargs):
        raise OSError("injected crash while writing the table")

    with monkeypatch.context() as m:
        m.setattr(pq, "write_table", crash)
        with pytest.raises(OSError, match="injected"):
            TI._write_meta(spark, path, 16)
    assert TI._read_buckets(spark, path, 32) == 8
    TI._write_meta(spark, path, 16)  # the next write replaces the leftovers
    assert TI._read_buckets(spark, path, 32) == 16


def test_meta_rewrite_crash_mid_swap_rolls_forward(spark, tmp_path, monkeypatch):
    """A crash between the swap's two renames (old table moved aside, new
    one not yet in place) is rolled forward by the next read."""
    path = str(tmp_path / "ti")
    TI._write_meta(spark, path, 8)
    real_rename = os.rename
    renames = []

    def crash_on_second(src, dst):
        renames.append(src)
        if len(renames) == 2:
            raise OSError("injected crash mid-swap")
        real_rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(IO.os, "rename", crash_on_second)
        with pytest.raises(OSError, match="mid-swap"):
            TI._write_meta(spark, path, 16)
    assert not os.path.exists(TI._meta_path(path, "postings"))
    assert TI._read_buckets(spark, path, 32) == 16


def test_zorder_append_at_file_uri(spark, tmp_path):
    """A z-order layout addressed as a `file:` URI finds its own `_zmeta`
    (existence used to be tested on the raw URI string)."""
    zl = "file:" + str(tmp_path / "z layout")
    rows = spark.range(600).select(
        F.col("id").alias("k"),
        (F.col("id") % 50).alias("a"),
        ((F.col("id") * 7) % 50).alias("b"),
    )
    L.zorder_write_partitioned(
        rows.filter("k < 500"), ["a", "b"], zl, bits=6, prefix_bits=3
    )
    L.zorder_append(rows.filter("k >= 500"), zl)
    got = sorted(r["k"] for r in spark.read.parquet(zl).collect())
    assert got == list(range(600))


def test_capped_ivf_append_at_file_uri(spark, sf_dir, tmp_path):
    """A capped IVF layout addressed as a `file:` URI finds its own
    `lists_meta`, so the append re-applies the cap instead of refusing."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    ivf = "file:" + str(tmp_path / "ivf")
    AI.ivf_index_build(
        emb.filter(F.col("vec_id") % 2 == 0), ivf, centroid_mod=29,
        max_list_rows=10**6,
    )
    AI.ivf_index_append(emb.filter(F.col("vec_id") % 2 == 1), ivf)
    lists = spark.read.parquet(os.path.join(ivf, "lists"))
    assert "c_slot" in lists.columns
    assert lists.count() == emb.count()


def test_file_uri_resolves_where_spark_writes(spark, tmp_path):
    """The pyarrow path opens the directory Spark writes for the same
    `file:` URI, percent signs and spaces included (Hadoop keeps both
    literal)."""
    uri = "file:" + str(tmp_path / "a%20b c" / "meta")
    spark.createDataFrame([(7,)], "num_buckets int").coalesce(1).write.parquet(uri)
    assert os.path.isdir(str(tmp_path / "a%20b c" / "meta"))
    assert IO.meta_read(spark, uri).column("num_buckets").to_pylist() == [7]
