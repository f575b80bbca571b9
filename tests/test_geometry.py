"""Property tests for the geometry U-stages and the process_coords plan
(SURVEY §5.2): homography exactness, rigid-transform invariants,
projection round-trips, PnP recovery, optimizer descent."""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from light_redistribution_in_3dptf_data_pipeline_spark.plans import pipeline as plans
from light_redistribution_in_3dptf_data_pipeline_spark.udf import geometry as geo

K = np.array([[1000.0, 0.0, 400.0],
              [0.0, 1000.0, 300.0],
              [0.0, 0.0, 1.0]])
DIST = np.array([0.05, -0.01, 0.001, 0.0005, 0.0])
RVEC_TRUE = np.array([0.1, -0.2, 0.05])
TVEC_TRUE = np.array([10.0, -20.0, 1500.0])


def _extrinsic_zyx_np(a, b, c):
    """scipy from_euler('zyx', [a,b,c], degrees=True): fixed-axis z(a)
    then y(b) then x(c) ⇒ R = Rx(c) @ Ry(b) @ Rz(a)."""
    az, ay, ax = np.radians([a, b, c])
    Rz = np.array([[np.cos(az), -np.sin(az), 0],
                   [np.sin(az), np.cos(az), 0], [0, 0, 1]])
    Ry = np.array([[np.cos(ay), 0, np.sin(ay)], [0, 1, 0],
                   [-np.sin(ay), 0, np.cos(ay)]])
    Rx = np.array([[1, 0, 0], [0, np.cos(ax), -np.sin(ax)],
                   [0, np.sin(ax), np.cos(ax)]])
    return Rx @ Ry @ Rz


class TestHomography:
    def test_maps_corners_exactly(self):
        rng = np.random.default_rng(7)
        for _ in range(20):
            src = rng.uniform(0, 1000, (4, 2))
            # reject near-degenerate quads
            if abs(np.linalg.det(np.stack(
                    [src[1] - src[0], src[3] - src[0]]))) < 1e3:
                continue
            dst = np.array([[0, 0], [800, 0], [800, 800], [0, 800]],
                           dtype=float)
            H = geo.homography_from_quads_np(src, dst)
            back = geo.apply_homography_np(H, src)
            assert np.allclose(back, dst, atol=1e-6)

    def test_spark_udf_matches_numpy(self, spark):
        quads = [
            [{"u": 10.0, "v": 20.0}, {"u": 700.0, "v": 30.0},
             {"u": 690.0, "v": 710.0}, {"u": 15.0, "v": 705.0}],
            [{"u": 100.0, "v": 100.0}, {"u": 500.0, "v": 120.0},
             {"u": 520.0, "v": 560.0}, {"u": 90.0, "v": 540.0}],
        ]
        df = spark.createDataFrame(
            [(i, q) for i, q in enumerate(quads)],
            "img INT, corners ARRAY<STRUCT<u: DOUBLE, v: DOUBLE>>")
        out = {r.img: np.array(r.homography).reshape(3, 3)
               for r in geo.with_homography(df).collect()}
        dst = np.array([[0, 0], [800, 0], [800, 800], [0, 800]],
                       dtype=float)
        for i, q in enumerate(quads):
            src = np.array([[p["u"], p["v"]] for p in q])
            expected = geo.homography_from_quads_np(src, dst)
            assert np.allclose(out[i], expected)


class TestRotations:
    def test_rodrigues_roundtrip(self):
        rng = np.random.default_rng(11)
        for _ in range(50):
            rvec = rng.uniform(-2, 2, 3)
            R = geo.rodrigues_to_matrix(rvec)
            assert np.allclose(R @ R.T, np.eye(3), atol=1e-10)
            assert np.isclose(np.linalg.det(R), 1.0)
            back = geo.matrix_to_rodrigues(R)
            assert np.allclose(back, rvec, atol=1e-8)

    def test_rodrigues_antipodal_mixed_sign_axes(self):
        """theta≈pi rotations about mixed-sign axes: the axis signs must
        come from the off-diagonals of (R+I)/2, not bare sqrt(diag)."""
        axes = [(1, -1, 0), (1, 0, -1), (0, -1, 1), (1, -1, 1),
                (-1, 1, 2), (2, -3, 1)]
        for ax in axes:
            k = np.array(ax, dtype=float)
            k /= np.linalg.norm(k)
            rvec = k * np.pi
            R = geo.rodrigues_to_matrix(rvec)
            back = geo.matrix_to_rodrigues(R)
            # at exactly pi, k and -k encode the same rotation
            assert (np.allclose(back, rvec, atol=1e-8)
                    or np.allclose(back, -rvec, atol=1e-8))
            assert np.allclose(geo.rodrigues_to_matrix(back), R, atol=1e-8)

    def test_euler_expressions_match_extrinsic_zyx(self, spark):
        """The engine's F13 trig expressions vs an independent numpy
        composition of scipy's lowercase (EXTRINSIC) 'zyx' convention:
        fixed-axis z(a) then y(b) then x(c) ⇒ R = Rx(c) @ Ry(b) @ Rz(a)
        (point3d_transformation.py:88)."""
        from light_redistribution_in_3dptf_data_pipeline_spark.queries.generators import (
            euler_zyx_matrix_cols,
        )

        df = spark.createDataFrame(
            [(a, b, c) for a, b, c in
             itertools.product([-20.0, 0.0, 20.0], repeat=3)],
            "a DOUBLE, b DOUBLE, c DOUBLE")
        cols = euler_zyx_matrix_cols(F.col("a"), F.col("b"), F.col("c"))
        rows = df.select("a", "b", "c",
                         *[v.alias(k) for k, v in cols.items()]).collect()

        for r in rows:
            expected = _extrinsic_zyx_np(r.a, r.b, r.c)
            got = np.array([[r.r00, r.r01, r.r02],
                            [r.r10, r.r11, r.r12],
                            [r.r20, r.r21, r.r22]])
            assert np.allclose(got, expected, atol=1e-12)

    def test_euler_expressions_match_scipy(self, spark):
        """Cross-check against scipy itself when available (the library
        the reference calls at point3d_transformation.py:88)."""
        scipy_rot = pytest.importorskip("scipy.spatial.transform")
        from light_redistribution_in_3dptf_data_pipeline_spark.queries.generators import (
            euler_zyx_matrix_cols,
        )

        df = spark.createDataFrame(
            [(a, b, c) for a, b, c in
             itertools.product([-20.0, -10.0, 0.0, 10.0, 20.0], repeat=3)],
            "a DOUBLE, b DOUBLE, c DOUBLE")
        cols = euler_zyx_matrix_cols(F.col("a"), F.col("b"), F.col("c"))
        rows = df.select("a", "b", "c",
                         *[v.alias(k) for k, v in cols.items()]).collect()
        for r in rows:
            expected = scipy_rot.Rotation.from_euler(
                "zyx", [r.a, r.b, r.c], degrees=True).as_matrix()
            got = np.array([[r.r00, r.r01, r.r02],
                            [r.r10, r.r11, r.r12],
                            [r.r20, r.r21, r.r22]])
            assert np.allclose(got, expected, atol=1e-12)


class TestWorldPoints:
    def test_cardinality_and_rigidity(self, spark):
        wp = plans.world_corner_points(spark)
        n = wp.count()
        assert n == (3125 - 5) * 4
        # rigid transform preserves the pairwise corner distances of
        # the ±90 square: sides 180, diagonals 180√2
        sample = wp.filter(F.col("pose_id").isin([0, 63, 1000, 3124]))
        by_pose = {}
        for r in sample.collect():
            by_pose.setdefault(r.pose_id, {})[r.corner_idx] = np.array(
                [r.x, r.y, r.z])
        for pose, pts in by_pose.items():
            assert len(pts) == 4
            side = np.linalg.norm(pts[0] - pts[1])
            diag = np.linalg.norm(pts[0] - pts[2])
            assert np.isclose(side, 180.0, atol=1e-9), pose
            assert np.isclose(diag, 180.0 * np.sqrt(2), atol=1e-9), pose

    def test_missing_ids_excluded(self, spark):
        wp = plans.world_corner_points(spark)
        present = {r.pose_id for r in
                   wp.select("pose_id").distinct().collect()}
        assert present.isdisjoint(plans.MISSING_POSE_IDS)

    def test_pipeline_memoization(self, spark, tmp_path):
        p = plans.build_calibration_pipeline(str(tmp_path))
        df1 = p.run(spark, "world_points")
        assert p.done("pose_grid") and p.done("world_points")
        mtime = (tmp_path / "world_points" / "_SUCCESS").stat().st_mtime
        p.run(spark, "world_points")  # memoized → no rewrite
        assert (tmp_path / "world_points"
                / "_SUCCESS").stat().st_mtime == mtime
        assert df1.count() == 3120 * 4


class TestProjectionAndPnP:
    @pytest.fixture(scope="class")
    def scene(self, spark):
        """Synthetic calibrated scene: world corners + exact pixels."""
        world = plans.world_corner_points(spark).filter(
            F.col("pose_id") < 50)
        proj = geo.with_projection(
            world, np.concatenate([RVEC_TRUE, TVEC_TRUE]), K, DIST)
        return proj.cache()

    def test_projection_matches_numpy(self, spark, scene):
        rows = scene.filter(F.col("pose_id") == 3).orderBy(
            "corner_idx").collect()
        pts = np.array([[r.x, r.y, r.z] for r in rows])
        expected = geo.project_points_np(pts, RVEC_TRUE, TVEC_TRUE, K, DIST)
        got = np.array([[r.u_hat, r.v_hat] for r in rows])
        assert np.allclose(got, expected, atol=1e-9)

    def test_planar_pnp_recovers_pose(self):
        """Coplanar square at a known pose → PnP must recover it."""
        obj = np.array([[90.0, 90], [-90, 90], [-90, -90], [90, -90]])
        world = np.hstack([obj, np.zeros((4, 1))])
        rvec = np.array([0.2, 0.1, -0.3])
        tvec = np.array([5.0, -8.0, 1200.0])
        pix = geo.project_points_np(world, rvec, tvec, K, np.zeros(5))
        r_est, t_est = geo.planar_pnp_np(obj, pix, K)
        assert np.allclose(r_est, rvec, atol=1e-6)
        assert np.allclose(t_est, tvec, atol=1e-3)

    def test_pnp_per_group_spark(self, spark):
        obj = np.array([[90.0, 90], [-90, 90], [-90, -90], [90, -90]])
        world = np.hstack([obj, np.zeros((4, 1))])
        rows = []
        for img, rz in [("0", 0.1), ("1", -0.25)]:
            rvec = np.array([rz, 0.05, 0.2])
            tvec = np.array([3.0, 4.0, 1000.0])
            pix = geo.project_points_np(world, rvec, tvec, K, np.zeros(5))
            for ci in range(4):
                rows.append((img, ci, float(pix[ci, 0]), float(pix[ci, 1]),
                             float(world[ci, 0]), float(world[ci, 1]),
                             float(world[ci, 2])))
        df = spark.createDataFrame(
            rows, "img_id STRING, corner_idx INT, u DOUBLE, v DOUBLE,"
                  " x DOUBLE, y DOUBLE, z DOUBLE")
        out = {r.img_id: r for r in geo.pnp_per_group(df, K).collect()}
        assert np.allclose(out["0"].rvec, [0.1, 0.05, 0.2], atol=1e-6)
        assert np.allclose(out["1"].rvec, [-0.25, 0.05, 0.2], atol=1e-6)


class TestRefineExtrinsic:
    def test_descends_and_recovers(self, spark):
        """U8: start from a perturbed pose; RMSE must decrease
        monotonically and converge near the ground truth."""
        world = plans.world_corner_points(spark).filter(
            F.col("pose_id") < 40)
        exact = geo.with_projection(
            world, np.concatenate([RVEC_TRUE, TVEC_TRUE]), K, DIST)
        joined = exact.select("x", "y", "z",
                              F.col("u_hat").alias("u"),
                              F.col("v_hat").alias("v"))
        x0 = np.concatenate([RVEC_TRUE + 0.05, TVEC_TRUE + [20, -30, 50]])
        params, history = geo.refine_extrinsic(joined, K, DIST, x0,
                                               max_iters=15)
        assert all(b <= a + 1e-9 for a, b in zip(history, history[1:])), (
            f"RMSE not monotone: {history}")
        assert history[-1] < 1e-3, f"did not converge: {history}"
        assert np.allclose(params[:3], RVEC_TRUE, atol=1e-4)
        assert np.allclose(params[3:], TVEC_TRUE, atol=1e-1)

    def test_one_job_per_evaluation_and_partition_invariant(
            self, spark, monkeypatch):
        """U8: every LM evaluation is one Spark job (map-only partial
        sums collected to the driver), and the refined params do not
        depend on how the working set is partitioned."""
        world = plans.world_corner_points(spark).filter(
            F.col("pose_id") < 20)
        joined = geo.with_projection(
            world, np.concatenate([RVEC_TRUE, TVEC_TRUE]), K, DIST
        ).select("x", "y", "z", F.col("u_hat").alias("u"),
                 F.col("v_hat").alias("v")).localCheckpoint()
        x0 = np.concatenate([RVEC_TRUE + 0.05, TVEC_TRUE + [20, -30, 50]])
        calls = []
        real = geo._normal_equations

        def counted(*a):
            calls.append(1)
            return real(*a)

        monkeypatch.setattr(geo, "_normal_equations", counted)
        sc = spark.sparkContext
        group = "test_geometry.lm_jobs"
        sc.setJobGroup(group, "refine_extrinsic")
        try:
            p1, _ = geo.refine_extrinsic(joined.coalesce(1), K, DIST, x0,
                                         max_iters=6)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(calls) >= 3
        assert len(sc.statusTracker().getJobIdsForGroup(group)) \
            == len(calls)
        p4, _ = geo.refine_extrinsic(joined.repartition(4), K, DIST, x0,
                                     max_iters=6)
        assert np.abs(p4 - p1).max() <= 1e-9
