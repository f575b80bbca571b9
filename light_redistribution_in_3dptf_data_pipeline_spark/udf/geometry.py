"""Geometry UDF stages (SURVEY §2.9 U4, U6, U7, U8).

The reference calls OpenCV/SciPy natives per pose in a Python loop
(``src/core/image_cut_warp.py:5-31``, ``src/core/solvepnp_ba.py:9-24``,
``src/core/extrinsic_calibration.py:88-171``). Here each stage is an
Arrow-vectorized pandas UDF / ``applyInPandas`` group map — NumPy does
the math on whole record batches, Spark owns partitioning and shuffle.
No OpenCV/SciPy dependency: the solves are implemented from the
standard published formulations (DLT homography, Rodrigues rotation,
planar-homography pose decomposition, Gauss-Newton least squares).

Data layout convention: corner sets are *normalized rows*
(``img_id, corner_idx, u, v`` / ``img_id, corner_idx, x, y, z``), the
layout that partitions and joins cleanly at 100 TB; matrices travel as
row-major fixed-length arrays (SURVEY §1.2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, StringType,
                               StructField, StructType)


# ---------------------------------------------------------------------------
# U4 — homography from 4 point correspondences (image_cut_warp.py:5-31)
# ---------------------------------------------------------------------------

def homography_from_quads_np(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """DLT: solve the 8×8 linear system mapping 4 src→dst points.
    src/dst: (4, 2). Returns row-major 3×3 with h22 = 1."""
    A = np.zeros((8, 8))
    b = np.zeros(8)
    for i in range(4):
        x, y = src[i]
        u, v = dst[i]
        A[2 * i] = [x, y, 1, 0, 0, 0, -u * x, -u * y]
        A[2 * i + 1] = [0, 0, 0, x, y, 1, -v * x, -v * y]
        b[2 * i] = u
        b[2 * i + 1] = v
    h = np.linalg.solve(A, b)
    return np.append(h, 1.0).reshape(3, 3)


def with_homography(quads: DataFrame, dst_size: float = 800.0,
                    corners_col: str = "corners") -> DataFrame:
    """Add a 9-element row-major homography column mapping each row's
    4-corner quad (ordered TL,TR,BR,BL — T4's argmin/argmax output)
    onto the (0,0)-(dst,dst) square, like the reference's 800×800 warp
    target (act_img.py:199)."""
    dst = np.array([[0.0, 0.0], [dst_size, 0.0],
                    [dst_size, dst_size], [0.0, dst_size]])

    @F.pandas_udf(ArrayType(DoubleType()))
    def homography_udf(corners: pd.Series) -> pd.Series:
        out = []
        for quad in corners:
            src = np.array([[p["u"], p["v"]] for p in quad])
            out.append(homography_from_quads_np(src, dst).ravel().tolist())
        return pd.Series(out)

    return quads.withColumn("homography", homography_udf(corners_col))


def apply_homography_np(H: np.ndarray, pts: np.ndarray) -> np.ndarray:
    """Map (N,2) points through H (U5's coordinate-level semantics)."""
    ph = np.hstack([pts, np.ones((len(pts), 1))])
    q = ph @ H.T
    return q[:, :2] / q[:, 2:3]


# ---------------------------------------------------------------------------
# Rotation helpers (Rodrigues, both directions) — public formulas
# ---------------------------------------------------------------------------

def rodrigues_to_matrix(rvec: np.ndarray) -> np.ndarray:
    theta = np.linalg.norm(rvec)
    if theta < 1e-12:
        return np.eye(3)
    k = rvec / theta
    K = np.array([[0, -k[2], k[1]], [k[2], 0, -k[0]], [-k[1], k[0], 0]])
    return np.eye(3) + np.sin(theta) * K + (1 - np.cos(theta)) * (K @ K)


def matrix_to_rodrigues(R: np.ndarray) -> np.ndarray:
    cos_t = np.clip((np.trace(R) - 1) / 2, -1.0, 1.0)
    theta = np.arccos(cos_t)
    if theta < 1e-12:
        return np.zeros(3)
    if np.pi - theta < 1e-6:
        # antipodal: near theta=pi, (R+I)/2 ≈ k·kᵀ, so the diagonal gives
        # |k_i| but not signs.  Take the row of the largest diagonal entry
        # (its pivot sign is a free choice: k and -k are the same rotation
        # at pi) and read the relative signs off that row's off-diagonals.
        M = (R + np.eye(3)) / 2
        i0 = int(np.argmax(np.diag(M)))
        axis = M[i0] / np.sqrt(max(M[i0, i0], 1e-18))
        axis = axis / np.linalg.norm(axis)
        return axis * theta
    w = np.array([R[2, 1] - R[1, 2], R[0, 2] - R[2, 0],
                  R[1, 0] - R[0, 1]])
    return w / (2 * np.sin(theta)) * theta


# ---------------------------------------------------------------------------
# U7 — pinhole projection with radial/tangential distortion
# (extrinsic_calibration.py:117-124, solvepnp_ba.py:21-24)
# ---------------------------------------------------------------------------

def project_points_np(pts: np.ndarray, rvec: np.ndarray, tvec: np.ndarray,
                      K: np.ndarray, dist: np.ndarray) -> np.ndarray:
    """(N,3) world → (N,2) pixel. dist = (k1,k2,p1,p2,k3) or fewer."""
    d = np.zeros(5)
    d[:len(dist[:5])] = dist[:5]
    k1, k2, p1, p2, k3 = d
    R = rodrigues_to_matrix(rvec)
    cam = pts @ R.T + tvec
    xy = cam[:, :2] / cam[:, 2:3]
    r2 = (xy ** 2).sum(axis=1)
    radial = 1 + k1 * r2 + k2 * r2 ** 2 + k3 * r2 ** 3
    x, y = xy[:, 0], xy[:, 1]
    x_d = x * radial + 2 * p1 * x * y + p2 * (r2 + 2 * x ** 2)
    y_d = y * radial + p1 * (r2 + 2 * y ** 2) + 2 * p2 * x * y
    u = K[0, 0] * x_d + K[0, 2]
    v = K[1, 1] * y_d + K[1, 2]
    return np.stack([u, v], axis=1)


def with_projection(world: DataFrame, params: np.ndarray, K: np.ndarray,
                    dist: np.ndarray) -> DataFrame:
    """Project world rows (img_id, corner_idx, x, y, z) → add (u_hat,
    v_hat). ``params`` = (rvec|tvec) 6-vector, broadcast by closure —
    the per-iteration cheap path of the U8 loop."""
    rvec, tvec = params[:3].copy(), params[3:].copy()
    Kc, dc = K.copy(), dist.copy()

    @F.pandas_udf("u_hat double, v_hat double")
    def proj_udf(x: pd.Series, y: pd.Series, z: pd.Series) -> pd.DataFrame:
        pts = np.stack([x.to_numpy(), y.to_numpy(), z.to_numpy()], axis=1)
        uv = project_points_np(pts, rvec, tvec, Kc, dc)
        return pd.DataFrame({"u_hat": uv[:, 0], "v_hat": uv[:, 1]})

    return world.withColumn("proj", proj_udf("x", "y", "z")) \
                .select("*", "proj.u_hat", "proj.v_hat").drop("proj")


# ---------------------------------------------------------------------------
# U6 — planar PnP per image group (solvepnp_ba.py:9-19)
# ---------------------------------------------------------------------------

def planar_pnp_np(world_xy: np.ndarray, pixels: np.ndarray,
                  K: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Pose from ≥4 coplanar (z=0 in object frame) correspondences via
    homography decomposition: H ~ K [r1 r2 t]."""
    H = homography_from_quads_np(world_xy[:4], pixels[:4])
    B = np.linalg.inv(K) @ H
    lam = 1.0 / np.linalg.norm(B[:, 0])
    if B[2, 2] * lam < 0:  # enforce positive depth
        lam = -lam
    r1 = B[:, 0] * lam
    r2 = B[:, 1] * lam
    t = B[:, 2] * lam
    r3 = np.cross(r1, r2)
    R = np.stack([r1, r2, r3], axis=1)
    # orthonormalize (SVD projection onto SO(3))
    U, _, Vt = np.linalg.svd(R)
    R = U @ Vt
    if np.linalg.det(R) < 0:
        R = U @ np.diag([1, 1, -1]) @ Vt
    return matrix_to_rodrigues(R), t


PNP_SCHEMA = StructType([
    StructField("img_id", StringType()),
    StructField("rvec", ArrayType(DoubleType())),
    StructField("tvec", ArrayType(DoubleType())),
])


def pnp_per_group(joined: DataFrame, K: np.ndarray) -> DataFrame:
    """applyInPandas per img_id over the joined working set
    (img_id, corner_idx, u, v, x, y, z) — each Spark task solves the
    poses of the groups it owns (replaces the reference's sequential
    per-key loop, extrinsic_calibration.py:109-128)."""
    Kc = K.copy()

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("corner_idx")
        world = pdf[["x", "y"]].to_numpy(dtype=float)
        pix = pdf[["u", "v"]].to_numpy(dtype=float)
        if len(pdf) < 4:
            return pd.DataFrame(columns=["img_id", "rvec", "tvec"])
        try:
            rvec, tvec = planar_pnp_np(world, pix, Kc)
        except np.linalg.LinAlgError:  # degenerate quad → P7 skip path
            return pd.DataFrame(columns=["img_id", "rvec", "tvec"])
        return pd.DataFrame({"img_id": [pdf["img_id"].iloc[0]],
                             "rvec": [rvec.tolist()],
                             "tvec": [tvec.tolist()]})

    return joined.groupBy("img_id").applyInPandas(solve, PNP_SCHEMA)


# ---------------------------------------------------------------------------
# U8 — distributed Gauss-Newton refinement (extrinsic_calibration.py:132-171)
# ---------------------------------------------------------------------------

_IU = np.triu_indices(6)
_STATS_SCHEMA = StructType(
    [StructField(f"jtj_{a}_{b}", DoubleType()) for a, b in zip(*_IU)]
    + [StructField(f"jtr_{j}", DoubleType()) for j in range(6)]
    + [StructField("rss", DoubleType()), StructField("n", DoubleType())]
)


def _normal_eq_partials(K: np.ndarray, dist: np.ndarray,
                        params: np.ndarray, eps: float):
    """Build a mapInPandas closure that folds ALL of its task's Arrow
    batches into ONE row of partial sums: J^T J (upper triangle, 21),
    J^T r (6), sum r², count — forward-difference Jacobian."""
    def fn(batches):
        acc = np.zeros(len(_STATS_SCHEMA.fields))
        for pdf in batches:
            pts = pdf[["x", "y", "z"]].to_numpy(dtype=float)
            obs = pdf[["u", "v"]].to_numpy(dtype=float)
            base = project_points_np(pts, params[:3], params[3:], K, dist)
            r = (base - obs).ravel()
            J = np.zeros((2 * len(pts), 6))
            for j in range(6):
                p = params.copy()
                p[j] += eps
                pert = project_points_np(pts, p[:3], p[3:], K, dist)
                J[:, j] = (pert - base).ravel() / eps
            acc += np.concatenate([(J.T @ J)[_IU], J.T @ r,
                                   [r @ r, len(r)]])
        yield pd.DataFrame([acc], columns=_STATS_SCHEMA.fieldNames())
    return fn


def _normal_equations(working: DataFrame, K: np.ndarray, dist: np.ndarray,
                      params: np.ndarray, eps: float):
    """One LM evaluation at ``params`` as ONE Spark job: a map-only
    stage emits one partial-sum row per task, the driver ``collect``s
    those O(partitions) rows and adds them in numpy (a
    ``groupBy().sum()`` would be a shuffle-map job plus a result job
    under AQE). Returns (J^T J, J^T r, sum r², residual count)."""
    rows = working.mapInPandas(_normal_eq_partials(K, dist, params, eps),
                               _STATS_SCHEMA).collect()
    tot = (np.array(rows, dtype=float)
           .reshape(-1, len(_STATS_SCHEMA.fields)).sum(axis=0))
    JTJ = np.zeros((6, 6))
    JTJ[_IU] = tot[:21]
    JTJ.T[_IU] = tot[:21]
    return JTJ, tot[21:27], tot[27], tot[28]


def refine_extrinsic(joined: DataFrame, K: np.ndarray, dist: np.ndarray,
                     x0: np.ndarray, max_iters: int = 20,
                     eps: float = 1e-6, lm_lambda: float = 1e-3,
                     tol: float = 1e-10):
    """Levenberg-Marquardt over the cached working set.

    The classic Spark pattern for BA-style optimizers (SURVEY §2.9
    U8): parameters are driver state shipped into each evaluation;
    each evaluation (:func:`_normal_equations`) is one map-only Spark
    job whose tasks each return one row of 6×6 normal-equation and
    residual partial sums; the 6-dof solve happens on the driver.
    Iterations are capped like the reference (max_nfev=100,
    extrinsic_calibration.py:160).

    Every task of an evaluation is a Python (Arrow) task, and each
    pays ~0.18 CPU-s of fixed worker cost before touching data
    (PySpark's ``setup_spark_files`` calls
    ``importlib.invalidate_caches()`` per task, and on Python 3.11
    every zipimporter on the worker path — ``pyspark.zip``, py4j, the
    Spark jar — re-reads its archive directory, ~27k entries). So the
    working set's partition count, which callers should size by
    bytes (``fs.bytes_partitions``), not cores, sets the evaluation's
    Python cost; it is cached as given.

    Returns (params, history) where history is the per-iteration RMSE.
    """
    joined = joined.select("x", "y", "z", "u", "v").cache()
    params = x0.astype(float).copy()
    lam = lm_lambda
    history: list[float] = []

    JTJ, JTr, rss, n = _normal_equations(joined, K, dist, params, eps)
    history.append(float(np.sqrt(rss / (n / 2))))
    for _ in range(max_iters):
        step = np.linalg.solve(JTJ + lam * np.diag(np.diag(JTJ)), -JTr)
        cand = params + step
        JTJ2, JTr2, rss2, _ = _normal_equations(joined, K, dist, cand, eps)
        if rss2 < rss:  # accept, relax damping
            params, JTJ, JTr, rss = cand, JTJ2, JTr2, rss2
            lam = max(lam / 10, 1e-12)
            history.append(float(np.sqrt(rss / (n / 2))))
            if len(history) > 1 and history[-2] - history[-1] < tol:
                break
        else:  # reject, tighten damping
            lam *= 10
            if lam > 1e12:
                break
    joined.unpersist()
    return params, history
