"""Persisted integer-model artifacts (sources/model_store)."""

import tempfile

import pytest

from codecdb_queryengine_spark.sources import model_store as MS


def test_round_trip_is_lossless(spark, tmp_path, both_meta_paths):
    vecs = {"mean": [1, -2, 3], "comp": [1000000, 0, -999999, 7]}

    def round_trip():
        path = tempfile.mkdtemp(dir=tmp_path)
        MS.save_model(spark, path, "m1", vecs)
        return MS.load_model(spark, path, "m1")

    assert both_meta_paths(round_trip) == vecs


def test_overwrite_replaces_previous_version(spark, tmp_path):
    MS.save_model(spark, str(tmp_path), "m1", {"w": [1, 2, 3]})
    MS.save_model(spark, str(tmp_path), "m1", {"w": [9]})
    assert MS.load_model(spark, str(tmp_path), "m1") == {"w": [9]}


def test_torn_artifact_fails_loudly(spark, tmp_path):
    """meta says dim 3 but the vectors table carries 2 rows — the loader
    must refuse rather than serve a zero-padded model."""
    import os

    MS.save_model(spark, str(tmp_path), "m1", {"w": [1, 2, 3]})
    spark.createDataFrame(
        [("w", 0, 1), ("w", 1, 2)], "kind string, j int, v long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "m1", "vectors")
    )
    with pytest.raises(ValueError, match="torn"):
        MS.load_model(spark, str(tmp_path), "m1")
