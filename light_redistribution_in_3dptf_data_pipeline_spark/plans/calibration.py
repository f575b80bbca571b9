"""Full 4-stage calibration DAG (SURVEY §2.9, §3.1).

The reference's ``data_pipeline.main()`` chains four memoized stages
(``src/core/data_pipeline.py:10-56``): intrinsics → pixel corners →
world corners → extrinsic solve, where the extrinsic solve itself is
``ExtrinsicCalibrator.calibrate`` (``src/core/extrinsic_calibration.py:
236-391``): per-pose PnP initial estimate → global least-squares refine
→ accuracy evaluation → npz artifact. This module re-composes that
whole workflow as one Spark DAG over the existing stage operators:

- **stage 1 (U1→U2)**: binary-file scan → ``mapInPandas`` chessboard
  detection → distributed per-view DLT fits → driver-side Zhang solve.
- **stage 2**: the ``pixel_corners`` table. In production this is the
  act_img warp/crop/detect pipeline (``image_ops``); here it is
  synthesized by projecting the world lattice through a ground-truth
  camera so the whole chain is verifiable against known truth.
- **stage 3**: ``world_corner_points`` — the process_coords dataflow,
  pure column math.
- **stage 4 (J2→U6→U8→A4→T2→S6)**: key-intersection join of pixel and
  world corners, per-pose planar-PnP initial estimate (distributed,
  tool-frame), distributed Levenberg-Marquardt refinement, reprojection
  error statistics, worst-k pose report, and the stats artifact write.

Every heavy step is distributed (``applyInPandas`` per pose /
``mapInPandas`` partial sums); the only driver-side reductions are the
same tiny solves as the reference: a ≤20-row pose average for the
initial estimate (extrinsic_calibration.py:126-160) and the 6-dof LM
normal equations.

Sizing rule (the DAG's Spark and Python cost tracks its data, not the
core count):

- every Arrow task pays ~0.18 CPU-s of fixed Python cost, even in a
  warm reused worker (PySpark's per-task ``importlib.
  invalidate_caches()`` makes each zipimporter on the worker path
  re-read its archive directory on Python 3.11), so the Arrow stages'
  inputs — the chessboard binary scan, the memoized corner tables and
  the cached LM working set — are coalesced to
  ``fs.bytes_partitions`` of their files: about one task at the
  fixture's ~12k corner rows, many at corpus scale;
- driver-local tables (the tool corners, the one-row stats artifact)
  are built JVM-side (``pipeline.literal_rows``): ``createDataFrame``
  on a Python list runs a PythonRDD, which starts a second
  ``pyspark.daemon`` with freshly forked workers;
- ``pixel_corners`` projects the memoized ``world_points`` output
  instead of recomputing the lattice (the Parquet double round trip
  is lossless), and each LM evaluation is one Spark job
  (``geometry._normal_equations``).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, StringType,
                               StructField, StructType)

from ..fs import bytes_partitions
from ..udf.calibration import FAKE_K, calibrate_intrinsics, detect_chessboard
from ..udf.geometry import (matrix_to_rodrigues, planar_pnp_np,
                            refine_extrinsic, rodrigues_to_matrix,
                            with_projection)
from .pipeline import (TOOL_CORNERS, Pipeline, synthetic_pixel_corners,
                       world_corner_points, write_stats_artifact)

# Ground-truth scene camera for the synthetic run: same intrinsics the
# fake U1 detector projects through, mild distortion.
TRUE_DIST = np.array([0.02, -0.005, 0.0002, 0.0001, 0.0])
TRUE_RVEC = np.array([0.08, -0.15, 0.04])
TRUE_TVEC = np.array([15.0, -25.0, 1600.0])


def _euler_zyx_np(ea_deg: float, eb_deg: float, ec_deg: float) -> np.ndarray:
    """Extrinsic z-y-x Euler (degrees) → R = Rx(c) @ Ry(b) @ Rz(a) —
    the same convention as ``euler_zyx_matrix_cols`` (scipy lowercase
    'zyx', point3d_transformation.py:88), in NumPy for the per-pose
    init solve."""
    az, ay, ax = np.radians([ea_deg, eb_deg, ec_deg])
    Rz = np.array([[np.cos(az), -np.sin(az), 0.0],
                   [np.sin(az), np.cos(az), 0.0],
                   [0.0, 0.0, 1.0]])
    Ry = np.array([[np.cos(ay), 0.0, np.sin(ay)],
                   [0.0, 1.0, 0.0],
                   [-np.sin(ay), 0.0, np.cos(ay)]])
    Rx = np.array([[1.0, 0.0, 0.0],
                   [0.0, np.cos(ax), -np.sin(ax)],
                   [0.0, np.sin(ax), np.cos(ax)]])
    return Rx @ Ry @ Rz


_INIT_SCHEMA = StructType([
    StructField("img_id", StringType()),
    StructField("rvec", ArrayType(DoubleType())),
    StructField("tvec", ArrayType(DoubleType())),
])


def per_pose_camera_estimates(pixels: DataFrame, poses: DataFrame,
                              K: np.ndarray) -> DataFrame:
    """U6 over the extrinsic scene: one camera-from-world pose estimate
    per image group.

    The reference runs sequential ``cv2.solvePnP`` per sampled key
    (extrinsic_calibration.py:24-88). Spark-first: the tool corners are
    z=0 planar in the *tool* frame, so each group solves a planar PnP
    in tool coordinates (homography decomposition) and composes with
    that pose's known world-from-tool transform from the lattice:
    ``R_cw = R_ct · R_wtᵀ``, ``t_cw = t_ct − R_cw · t_wt``. One
    ``applyInPandas`` pass, no driver loop.

    ``pixels``: (img_id, corner_idx, u, v); ``poses``: the pose grid
    (pose_id, ea, eb, ec, gx, gy, gz) — tiny, broadcast into the join.
    """
    Kc = K.copy()
    tool = np.asarray(TOOL_CORNERS)

    joined = pixels.join(
        F.broadcast(poses),
        pixels["img_id"].cast("bigint") == poses["pose_id"], "inner")

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("corner_idx")
        idx = pdf["corner_idx"].to_numpy()
        pix = pdf[["u", "v"]].to_numpy(dtype=float)
        if len(pdf) < 4:
            return pd.DataFrame(columns=["img_id", "rvec", "tvec"])
        try:
            rvec_ct, t_ct = planar_pnp_np(tool[idx, :2], pix, Kc)
        except np.linalg.LinAlgError:
            return pd.DataFrame(columns=["img_id", "rvec", "tvec"])
        R_ct = rodrigues_to_matrix(rvec_ct)
        R_wt = _euler_zyx_np(pdf["ea"].iloc[0], pdf["eb"].iloc[0],
                             pdf["ec"].iloc[0])
        t_wt = pdf[["gx", "gy", "gz"]].iloc[0].to_numpy(dtype=float)
        R_cw = R_ct @ R_wt.T
        t_cw = t_ct - R_cw @ t_wt
        return pd.DataFrame({
            "img_id": [pdf["img_id"].iloc[0]],
            "rvec": [matrix_to_rodrigues(R_cw).tolist()],
            "tvec": [t_cw.tolist()],
        })

    return joined.groupBy("img_id").applyInPandas(solve, _INIT_SCHEMA)


def initial_extrinsic_estimate(pixels: DataFrame, poses: DataFrame,
                               K: np.ndarray,
                               sample_size: int = 20) -> np.ndarray:
    """U6 init as the reference frames it: solve PnP for a small pose
    sample and average rvec/tvec (extrinsic_calibration.py:126-160 —
    first ``sample_size`` keys, rotation vectors averaged directly).
    Only the ≤``sample_size`` 6-vectors ever reach the driver."""
    sample = (pixels
              .filter(F.col("img_id").cast("bigint")
                      < F.lit(int(1e18)))  # guard non-numeric ids
              .orderBy(F.col("img_id").cast("bigint"))
              .limit(4 * sample_size))
    est = per_pose_camera_estimates(sample, poses, K).collect()
    est = sorted(est, key=lambda r: int(r["img_id"]))[:sample_size]
    if not est:
        raise ValueError("no solvable pose groups for initial estimate")
    rvec = np.mean([r["rvec"] for r in est], axis=0)
    tvec = np.mean([r["tvec"] for r in est], axis=0)
    return np.concatenate([rvec, tvec])


def reprojection_error_table(world: DataFrame, pixels: DataFrame,
                             params: np.ndarray, K: np.ndarray,
                             dist: np.ndarray) -> DataFrame:
    """Per-corner Euclidean reprojection error at ``params`` — the
    distributed form of ``evaluate_accuracy``'s inner loop
    (extrinsic_calibration.py:174-212): project the world table (U7),
    J2-join observed pixels, one error column. Returns
    (img_id, corner_idx, err)."""
    proj = with_projection(
        world.select(F.col("pose_id").cast("string").alias("img_id"),
                     "corner_idx", "x", "y", "z"),
        params, K, dist)
    return (proj.join(pixels, ["img_id", "corner_idx"], "inner")
            .select("img_id", "corner_idx",
                    F.sqrt((F.col("u") - F.col("u_hat")) ** 2
                           + (F.col("v") - F.col("v_hat")) ** 2)
                    .alias("err")))


def accuracy_stats(errors: DataFrame) -> dict[str, float]:
    """A4 over the error table: the reference's stats dict
    (extrinsic_calibration.py:215-222) in one aggregate."""
    row = errors.agg(
        F.mean("err").alias("mean_error"),
        F.stddev_pop("err").alias("std_error"),
        F.max("err").alias("max_error"),
        F.min("err").alias("min_error"),
        F.expr("percentile(err, 0.5)").alias("median_error"),
        F.sqrt(F.mean(F.col("err") ** 2)).alias("rmse"),
    ).collect()[0]
    return {k: float(row[k]) for k in row.asDict()}


def worst_poses(errors: DataFrame, k: int = 10) -> DataFrame:
    """T2: the reference's "10 worst poses" report
    (extrinsic_calibration.py:224-228) — per-pose mean error, top-k
    descending (TakeOrderedAndProject, no global sort materialized)."""
    return (errors.groupBy("img_id")
            .agg(F.mean("err").alias("mean_err"))
            .orderBy(F.col("mean_err").desc(), F.col("img_id"))
            .limit(k))


def _bytes_sized(spark: SparkSession, df: DataFrame,
                 dirs: "list[str]") -> DataFrame:
    """``df`` coalesced to :func:`fs.bytes_partitions` of the files
    under ``dirs`` (its input)."""
    n = bytes_partitions(spark, dirs)
    return df.coalesce(n) if n else df


def _stage(spark: SparkSession, p: Pipeline, name: str) -> DataFrame:
    """Memoized stage output, read at byte-sized partitions."""
    return _bytes_sized(spark, p.run(spark, name), [p.path(name)])


def full_calibration_run(spark: SparkSession, workdir: str,
                         K_true: np.ndarray = FAKE_K,
                         dist: np.ndarray = TRUE_DIST,
                         rvec_true: np.ndarray = TRUE_RVEC,
                         tvec_true: np.ndarray = TRUE_TVEC,
                         n_views: int = 15,
                         max_iters: int = 12) -> dict:
    """The end-to-end stage-4 run mirroring ``data_pipeline.main()``:

    1. U1→U2 intrinsics from a chessboard corpus (written under
       ``workdir/chess`` if absent — same injectable-detector seam as
       production).
    2. world_points: process_coords column math (Parquet-memoized).
    3. pixel_corners: the memoized world_points projected through the
       ground-truth camera (Parquet-memoized stage).
    4. J2 join → U6 init → U8 LM refine → A4 stats → T2 worst-10 →
       S6 artifact at ``workdir/camera_extrinsic``.

    Returns {K, params, history, stats, worst} — ``params`` is the
    refined (rvec|tvec) 6-vector.
    """
    from ..sources import binary_catalog

    # --- stage 1: intrinsics (U1 → U2) --------------------------------
    chess_dir = os.path.join(workdir, "chess")
    if not os.path.isdir(chess_dir):
        os.makedirs(chess_dir)
        for i in range(n_views):
            with open(os.path.join(chess_dir, f"view_{i:02d}.JPG"),
                      "wb") as f:
                f.write(bytes([40 + 13 * i % 200, 200 - 11 * i % 180,
                               30 + 7 * i % 160]) * 40)
    files = binary_catalog.scan_files(spark, chess_dir, glob="*.JPG",
                                      with_content=True)
    K = calibrate_intrinsics(detect_chessboard(
        _bytes_sized(spark, files, [chess_dir])))

    # --- stages 2+3: memoized corner tables ---------------------------
    p = Pipeline(root=os.path.join(workdir, "stages"))
    p.add("world_points", lambda s: world_corner_points(s))
    world = _stage(spark, p, "world_points")
    p.add("pixel_corners",
          lambda s: synthetic_pixel_corners(world, K_true, dist,
                                            rvec_true, tvec_true),
          deps=("world_points",))
    pixels = _stage(spark, p, "pixel_corners")

    # --- stage 4: extrinsic solve -------------------------------------
    from ..queries.generators import pose_grid_df

    poses = pose_grid_df(spark)
    x0 = initial_extrinsic_estimate(pixels, poses, K)

    joined = _bytes_sized(
        spark,
        world.select(F.col("pose_id").cast("string").alias("img_id"),
                     "corner_idx", "x", "y", "z")
        .join(pixels, ["img_id", "corner_idx"], "inner"),
        [p.path("world_points"), p.path("pixel_corners")])
    params, history = refine_extrinsic(joined, K, dist, x0,
                                       max_iters=max_iters)

    errors = reprojection_error_table(world, pixels, params, K, dist)
    stats = accuracy_stats(errors)
    worst = worst_poses(errors, k=10)

    R_final = rodrigues_to_matrix(params[:3])
    T = np.eye(4)
    T[:3, :3] = R_final
    T[:3, 3] = params[3:]
    write_stats_artifact(
        spark, os.path.join(workdir, "camera_extrinsic"),
        {"extrinsic_matrix": T, "rvec": params[:3], "tvec": params[3:],
         "camera_matrix": K},
        stats)

    return {"K": K, "params": params, "history": history,
            "stats": stats, "worst": worst}
