"""S9 (EXIF-analog metadata map read→rewrite round-trip), S6 (single-
row stats artifact write/read-back), and as-of join tie determinism."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from light_redistribution_in_3dptf_data_pipeline_spark.operators.temporal_joins import asof_join
from light_redistribution_in_3dptf_data_pipeline_spark.plans import pipeline
from light_redistribution_in_3dptf_data_pipeline_spark.sources import binary_catalog


@pytest.fixture(scope="module")
def image_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("exif_imgs")
    t = 1_700_000_000
    for pose in range(3):
        n = 5 if pose != 1 else 3  # pose 1 incomplete
        for exp in range(n):
            p = d / f"{pose}_{exp}.JPG"
            p.write_bytes(bytes([pose * 16 + exp]) * (70 + pose + exp))
            os.utime(p, (t, t))
            t += 2
    return str(d)


def _catalog(spark, image_dir):
    return binary_catalog.file_catalog(
        binary_catalog.scan_files(spark, image_dir, glob="*.JPG"))


def test_with_metadata_map_column(spark, image_dir):
    """S9 read half: a MAP<STRING,STRING> metadata column, one tag
    dict per file, deterministic across runs."""
    df = binary_catalog.with_metadata(_catalog(spark, image_dir))
    assert dict(df.dtypes)["metadata"] == "map<string,string>"
    rows1 = {r.path: r.metadata for r in df.collect()}
    rows2 = {r.path: r.metadata for r in df.collect()}
    assert rows1 == rows2
    assert len(rows1) == 13
    meta = rows1[sorted(rows1)[0]]
    assert meta["Make"] == "FAKE"
    assert meta["ImageStem"] == "0_0"
    assert meta["ExposureTime"].endswith("/1000000")


def test_rewrite_metadata_key_roundtrip(spark, image_dir):
    """S9 write half: read → transform → rewrite preserves every other
    tag (the piexif load→mutate→dump round-trip, act_img.py:222-247)."""
    df = binary_catalog.with_metadata(_catalog(spark, image_dir))
    before = {r.path: r.metadata for r in df.collect()}
    out = binary_catalog.rewrite_metadata_key(
        df.withColumn("_v", F.lit("123/1000000")), "ExposureTime", "_v")
    after = {r.path: r.metadata for r in out.collect()}
    for path, tags in after.items():
        assert tags["ExposureTime"] == "123/1000000"
        for k, v in before[path].items():
            if k != "ExposureTime":
                assert tags[k] == v


def test_batch_set_exposure_times(spark, image_dir):
    """calculate.py:96-133 semantics: name-sorted groups of 5 get the
    exposure ladder positionally; the trailing incomplete group keeps
    its original tags."""
    df = binary_catalog.with_metadata(_catalog(spark, image_dir))
    before = {r.path: r.metadata for r in df.collect()}
    out = binary_catalog.batch_set_exposure_times(df)
    rows = {r.path: r.metadata for r in out.collect()}
    ladder = [f"{int(e * 1e6)}/1000000"
              for e in binary_catalog.EXPOSURE_LADDER]
    ordered = sorted(rows)
    assert len(ordered) == 13
    for i, path in enumerate(ordered[:10]):  # two complete groups
        assert rows[path]["ExposureTime"] == ladder[i % 5]
        assert rows[path]["ImageStem"] == before[path]["ImageStem"]
    for path in ordered[10:]:  # incomplete tail group: untouched
        assert rows[path] == before[path]


def test_stats_artifact_roundtrip(spark, tmp_path):
    """S6: the np.savez analog (extrinsic_calibration.py:381-387) —
    one-row Parquet artifact, exact matrix + stats read-back."""
    K = np.array([[1000.0, 0, 400], [0, 1000.0, 400], [0, 0, 1]])
    dist = np.linspace(-0.3, 0.3, 14).reshape(1, 14)
    T = np.eye(4)
    T[:3, 3] = [10.0, -20.0, 30.0]
    stats = {"mean_error": 43.15, "median_error": 42.01,
             "rmse": 47.09, "n_points": 12432.0}
    path = str(tmp_path / "camera_extrinsic")
    pipeline.write_stats_artifact(
        spark, path, {"extrinsic_matrix": T, "camera_matrix": K,
                      "distortion_coeffs": dist}, stats)
    mats, got_stats = pipeline.read_stats_artifact(spark, path)
    assert np.array_equal(mats["extrinsic_matrix"], T)
    assert np.array_equal(mats["camera_matrix"], K)
    assert np.array_equal(mats["distortion_coeffs"], dist)
    assert got_stats == stats


def test_stats_artifact_schema_is_inferred_row_schema(spark, tmp_path):
    """The JVM-built artifact row has the Parquet schema that
    ``spark.createDataFrame([row])`` infers for the same dict — names
    in sorted order, ARRAY<DOUBLE>/ARRAY<BIGINT>/DOUBLE, every field
    and array element nullable — and reads back exactly."""
    import glob
    import json

    import pyarrow.parquet as pq

    mats = {"extrinsic_matrix": np.arange(16.0).reshape(4, 4) / 3,
            "camera_matrix": np.array([[1000.0, 0, 400], [0, 1000.0, 400],
                                       [0, 0, 1]])}
    stats = {"rmse": 0.1 + 0.2, "mean_error": float("nan"),
             "n_points": 12432.0}
    path = str(tmp_path / "artifact")
    pipeline.write_stats_artifact(spark, path, mats, stats)
    row = dict(stats)
    for name, m in mats.items():
        row[name] = [float(x) for x in m.ravel()]
        row[f"{name}_shape"] = [int(s) for s in m.shape]
    ref = str(tmp_path / "inferred")
    spark.createDataFrame([row]).coalesce(1).write.parquet(ref)

    def footer(p):
        (f,) = glob.glob(f"{p}/*.parquet")
        return pq.read_schema(f)

    got, want = footer(path), footer(ref)
    assert got.equals(want, check_metadata=False), (got, want)
    key = b"org.apache.spark.sql.parquet.row.metadata"
    assert json.loads(got.metadata[key]) == json.loads(want.metadata[key])
    got_mats, got_stats = pipeline.read_stats_artifact(spark, path)
    assert got_mats.keys() == mats.keys()
    for name, m in mats.items():
        assert np.array_equal(got_mats[name], m)
    assert got_stats.keys() == stats.keys()
    assert got_stats["rmse"] == stats["rmse"]
    assert np.isnan(got_stats["mean_error"])
    assert got_stats["n_points"] == stats["n_points"]


def test_asof_join_deterministic_ties(spark):
    """Duplicate right rows at the same (key, ts) must resolve to the
    same payload on every run (the max payload tuple)."""
    left = spark.createDataFrame(
        [("k", 10, i) for i in range(4)], "key STRING, ts INT, lid INT")
    right = spark.createDataFrame(
        [("k", 10, v) for v in (3, 9, 1, 7)] + [("k", 5, 99)],
        "key STRING, ts INT, val INT")
    outs = [sorted((r.lid, r.val_r) for r in
                   asof_join(left, right.repartition(seed + 2), "key",
                             "ts", ["val"]).collect())
            for seed in range(3)]
    assert outs[0] == outs[1] == outs[2]
    assert all(v == 9 for _, v in outs[0])
