"""Generated-lattice queries (SURVEY §2.8 F13/F14, §2.5 W5).

The reference generates its 3,125-pose lattice in memory
(``src/core/point3d_transformation.py:65-106``): 125 Euler-angle
combinations (lexicographic ``itertools.product`` order over
{-20,-10,0,10,20}³, applied z-y-x) × 25 grid offsets in a serpentine
(boustrophedon) scan, with the *whole grid traversal reversed* for every
odd orientation. The engine reproduces it declaratively: ``range`` ×
``crossJoin`` + pure integer/trig expressions; Catalyst constant-folds
and the lattice never hits storage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import register

DEG2RAD = 0.017453292519943295  # pi/180 as an exact double literal


def pose_grid_df(spark: SparkSession) -> DataFrame:
    """The 3,125-pose lattice with serpentine traversal.

    pose_id = orient_idx * 25 + step; the grid point visited at `step`
    is serpentine order for even orientations and the reverse walk for
    odd orientations (point3d_transformation.py:96-101).
    """
    # one range, split by div/mod: the same (oi, si) rows as
    # range(125) × range(25), without a join and its broadcast job
    df = spark.range(125 * 25).select(
        F.expr("id div 25").alias("oi"), (F.col("id") % 25).alias("si"))
    # grid index actually visited at this step
    k = F.when(F.col("oi") % 2 == 1, 24 - F.col("si")).otherwise(F.col("si"))
    gi = (k / 5).cast("bigint")     # serpentine row (outer grid axis)
    gj = F.pmod(k, F.lit(5))
    jj = F.when(gi % 2 == 1, 4 - gj).otherwise(gj)  # odd rows reversed
    ea = (F.lit(-20.0) + 10.0 * (F.col("oi") / 25).cast("bigint"))
    eb = (F.lit(-20.0) + 10.0 * F.pmod((F.col("oi") / 5).cast("bigint"),
                                       F.lit(5)))
    ec = (F.lit(-20.0) + 10.0 * F.pmod(F.col("oi"), F.lit(5)))
    return df.select(
        (F.col("oi") * 25 + F.col("si")).cast("bigint").alias("pose_id"),
        ea.alias("ea"), eb.alias("eb"), ec.alias("ec"),
        ((gi - 2) * F.lit(50.0)).alias("gx"),
        ((jj - 2) * F.lit(50.0)).alias("gy"),
        F.lit(0.0).alias("gz"),
    )


POSE_GRID_ORACLE = """
WITH base AS (
  SELECT o.oi, s.si,
         CASE WHEN o.oi % 2 = 1 THEN 24 - s.si ELSE s.si END AS k
  FROM generate_series(0, 124) o(oi), generate_series(0, 24) s(si)
), g AS (
  SELECT oi, si, CAST(floor(k / 5) AS BIGINT) AS gi, k % 5 AS gj
  FROM base
)
SELECT CAST(oi * 25 + si AS BIGINT) AS pose_id,
       -20.0 + 10.0 * CAST(floor(oi / 25) AS BIGINT) AS ea,
       -20.0 + 10.0 * (CAST(floor(oi / 5) AS BIGINT) % 5) AS eb,
       -20.0 + 10.0 * (oi % 5) AS ec,
       (gi - 2) * 50.0 AS gx,
       ((CASE WHEN gi % 2 = 1 THEN 4 - gj ELSE gj END) - 2) * 50.0 AS gy,
       0.0 AS gz
FROM g
"""

# f14's registration is folded into f13_f14_pose_grid_rotation below
# (r8 — frees a driver-window slot for dx6_passage_dup); pose_grid_df
# and POSE_GRID_ORACLE stay the reusable pieces.


def euler_zyx_matrix_cols(a, b, c):
    """Rotation-matrix entries for EXTRINSIC z-y-x Euler angles
    (degrees), as closed-form column expressions.

    scipy's lowercase ``from_euler('zyx', [a, b, c])``
    (point3d_transformation.py:88) means rotations about the FIXED
    axes applied in order z(a), y(b), x(c) — composing on the left:
    R = Rx(c) @ Ry(b) @ Rz(a). (Uppercase 'ZYX' would be the intrinsic
    Rz(a)Ry(b)Rx(c) form; the reference uses lowercase.)
    Returns dict name→Column."""
    ra, rb, rc = (x * F.lit(DEG2RAD) for x in (a, b, c))
    sa, ca = F.sin(ra), F.cos(ra)
    sb, cb = F.sin(rb), F.cos(rb)
    sc, cc = F.sin(rc), F.cos(rc)
    return {
        "r00": ca * cb,
        "r01": -(sa * cb),
        "r02": sb,
        "r10": sa * cc + ca * sb * sc,
        "r11": ca * cc - sa * sb * sc,
        "r12": -(cb * sc),
        "r20": sa * sc - ca * sb * cc,
        "r21": ca * sc + sa * sb * cc,
        "r22": cb * cc,
    }


@register(
    "f13_f14_pose_grid_rotation",
    f"""
    WITH base AS (
      SELECT o.oi, s.si,
             CASE WHEN o.oi % 2 = 1 THEN 24 - s.si ELSE s.si END AS k
      FROM generate_series(0, 124) o(oi), generate_series(0, 24) s(si)
    ), g AS (
      SELECT oi, si, CAST(floor(k / 5) AS BIGINT) AS gi, k % 5 AS gj
      FROM base
    ), p AS (
      SELECT CAST(oi * 25 + si AS BIGINT) AS pose_id,
             -20.0 + 10.0 * CAST(floor(oi / 25) AS BIGINT) AS ea,
             -20.0 + 10.0 * (CAST(floor(oi / 5) AS BIGINT) % 5) AS eb,
             -20.0 + 10.0 * (oi % 5) AS ec,
             (gi - 2) * 50.0 AS gx,
             ((CASE WHEN gi % 2 = 1 THEN 4 - gj ELSE gj END) - 2)
               * 50.0 AS gy,
             0.0 AS gz
      FROM g
    ), t AS (
      SELECT *,
             sin(ea * {DEG2RAD}) AS sa, cos(ea * {DEG2RAD}) AS ca,
             sin(eb * {DEG2RAD}) AS sb, cos(eb * {DEG2RAD}) AS cb,
             sin(ec * {DEG2RAD}) AS sc, cos(ec * {DEG2RAD}) AS cc
      FROM p
    )
    SELECT pose_id, ea, eb, ec, gx, gy, gz,
           round(ca * cb, 12) + 0.0 AS r00,
           round(-(sa * cb), 12) + 0.0 AS r01,
           round(sb, 12) + 0.0 AS r02,
           round(sa * cc + ca * sb * sc, 12) + 0.0 AS r10,
           round(ca * cc - sa * sb * sc, 12) + 0.0 AS r11,
           round(-(cb * sc), 12) + 0.0 AS r12,
           round(sa * sc - ca * sb * cc, 12) + 0.0 AS r20,
           round(ca * sc + sa * sb * cc, 12) + 0.0 AS r21,
           round(cb * cc, 12) + 0.0 AS r22
    FROM t
    """,
    doc="F13+F14+W5 composite (merged r8): the full 3,125-pose "
        "serpentine lattice (point3d_transformation.py:65-106) with "
        "each pose's extrinsic Euler(zyx, degrees)→rotation matrix "
        "(R = Rx(c)Ry(b)Rz(a), scipy lowercase-'zyx' semantics, "
        "point3d_transformation.py:87-93) attached as trig column "
        "expressions — exactly the grid→pose-matrix composition the "
        "reference performs before projecting. Matrix entries rounded "
        "to 12 dp because JVM and libm trig may differ in the last "
        "ulp. The merge freed a driver-window slot for "
        "dx6_passage_dup; both halves stay value-checked (the matrix "
        "is now verified at all 125 orientations × 25 grid steps)")
def pose_grid_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = pose_grid_df(spark)
    cols = euler_zyx_matrix_cols(F.col("ea"), F.col("eb"), F.col("ec"))
    return grid.select(
        "pose_id", "ea", "eb", "ec", "gx", "gy", "gz",
        *[(F.round(expr, 12) + F.lit(0.0)).alias(name)
          for name, expr in cols.items()])
