"""Stage-4 end-to-end integration (SURVEY §3.1): the full
U1→U2→J2→U6→U8→A4→T2→S6 calibration DAG over a synthetic scene with
known ground truth, mirroring data_pipeline.main() +
ExtrinsicCalibrator.calibrate (extrinsic_calibration.py:236-391)."""

from __future__ import annotations

import os
from types import SimpleNamespace

import numpy as np
import pytest

from light_redistribution_in_3dptf_data_pipeline_spark.fs import _conf_bytes
from light_redistribution_in_3dptf_data_pipeline_spark.plans import calibration as cal
from light_redistribution_in_3dptf_data_pipeline_spark.plans import pipeline as pl
from light_redistribution_in_3dptf_data_pipeline_spark.plans.pipeline import (
    read_stats_artifact,
)
from light_redistribution_in_3dptf_data_pipeline_spark.udf.calibration import FAKE_K
from light_redistribution_in_3dptf_data_pipeline_spark.udf.geometry import (
    rodrigues_to_matrix,
)


@pytest.fixture(scope="module")
def calib(spark, tmp_path_factory):
    """One cold ``full_calibration_run``, its Spark jobs counted under
    a job group, with the LM working set it hands to
    ``refine_extrinsic`` kept for inspection."""
    wd = tmp_path_factory.mktemp("calib_run")
    sc = spark.sparkContext
    seen = {}
    real = cal.refine_extrinsic

    def spy(joined, *a, **k):
        seen["working_set"] = joined
        return real(joined, *a, **k)

    group = "test_full_calibration.calib"
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cal, "refine_extrinsic", spy)
        sc.setJobGroup(group, "one full_calibration_run")
        try:
            out = cal.full_calibration_run(spark, str(wd))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    return SimpleNamespace(
        wd=str(wd), out=out,
        jobs=len(sc.statusTracker().getJobIdsForGroup(group)),
        working_set=seen["working_set"])


@pytest.fixture(scope="module")
def run(calib):
    return calib.wd, calib.out


def test_intrinsics_recovered(run):
    _, out = run
    assert np.allclose(out["K"], FAKE_K, rtol=1e-4)


def test_extrinsics_recovered_within_eps(run):
    """The LM refine must land on the ground-truth camera pose: the
    pixel table was projected through (TRUE_RVEC, TRUE_TVEC) with the
    same projection model the optimizer evaluates, so residuals can
    reach ~0 and the pose is identifiable (2976 poses × 4 corners)."""
    _, out = run
    rvec, tvec = out["params"][:3], out["params"][3:]
    # compare rotations as matrices (rvec may differ by 2π wraps)
    R_hat = rodrigues_to_matrix(rvec)
    R_true = rodrigues_to_matrix(cal.TRUE_RVEC)
    assert np.allclose(R_hat, R_true, atol=1e-6)
    assert np.allclose(tvec, cal.TRUE_TVEC, atol=1e-3)


def test_rmse_history_monotone_and_converged(run):
    _, out = run
    hist = out["history"]
    assert len(hist) >= 2
    assert all(b <= a + 1e-12 for a, b in zip(hist, hist[1:])), hist
    assert hist[-1] < 1e-4, hist
    assert out["stats"]["rmse"] < 1e-4
    assert out["stats"]["max_error"] >= out["stats"]["mean_error"]


def test_worst_pose_report_shape(run):
    _, out = run
    rows = out["worst"].collect()
    assert len(rows) == 10
    errs = [r["mean_err"] for r in rows]
    assert errs == sorted(errs, reverse=True)


def test_artifact_roundtrip(run, spark):
    wd, out = run
    matrices, stats = read_stats_artifact(spark, f"{wd}/camera_extrinsic")
    assert matrices["extrinsic_matrix"].shape == (4, 4)
    R = matrices["extrinsic_matrix"][:3, :3]
    assert np.allclose(R @ R.T, np.eye(3), atol=1e-8)
    assert np.allclose(matrices["camera_matrix"], out["K"])
    assert stats["rmse"] == pytest.approx(out["stats"]["rmse"])


def test_stage_memoization(run, spark):
    """Re-running reuses the Parquet-memoized stage outputs (the
    reference's 'stage done = slot filled' semantics)."""
    import os
    wd, _ = run
    marker = os.path.join(wd, "stages", "world_points", "_SUCCESS")
    mtime = os.path.getmtime(marker)
    cal.full_calibration_run(spark, wd, max_iters=1)
    assert os.path.getmtime(marker) == mtime


def test_run_job_count(calib):
    """The DAG is sized to its ~12k corner rows: 29 Spark jobs before
    it was right-sized (one per LM evaluation instead of two, no
    Python-list DataFrames, pixel_corners reusing world_points)."""
    assert calib.jobs <= 22, calib.jobs


def test_lm_working_set_is_byte_sized(calib, spark):
    """The cached LM working set has ceil((bytes + openCost·files) /
    maxPartitionBytes) partitions over its two input stage tables —
    not one per core or per file."""
    files = [os.path.join(d, f)
             for d in (os.path.join(calib.wd, "stages", t)
                       for t in ("world_points", "pixel_corners"))
             for f in os.listdir(d) if not f.startswith(("_", "."))]
    nbytes = sum(os.path.getsize(f) for f in files)
    target = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 0)
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes", 0)
    want = -(-(nbytes + open_cost * len(files)) // target)
    assert calib.working_set.rdd.getNumPartitions() == want


def test_pixel_corners_equal_recomputed_world(calib, spark):
    """pixel_corners projects the memoized world_points output; the
    rows are exactly those of projecting a freshly computed lattice
    (the Parquet double round trip is lossless)."""
    got = spark.read.parquet(f"{calib.wd}/stages/pixel_corners")
    want = pl.synthetic_pixel_corners(
        pl.world_corner_points(spark), FAKE_K, cal.TRUE_DIST,
        cal.TRUE_RVEC, cal.TRUE_TVEC)
    rows = sorted(map(tuple, got.collect()))
    assert rows == sorted(map(tuple, want.select(*got.columns).collect()))
    assert len(rows) > 10000
