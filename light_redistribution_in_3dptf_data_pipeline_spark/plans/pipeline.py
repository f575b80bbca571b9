"""Stage-checkpointed pipelines (SURVEY §1.4, §3.1).

The reference's ``data_pipeline.main()`` memoizes stages through one
pickle checkpoint: a stage runs only if its output slot is empty
(``src/core/data_pipeline.py:19-50``). Spark-first equivalent: every
stage writes Parquet; "stage done" = "output path exists"; reruns are
idempotent overwrites. At 100 TB the checkpoint doubles as the shuffle
barrier you *want* between phases with different partitioning needs.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, LongType,
                               StructField, StructType)

from ..queries.generators import euler_zyx_matrix_cols, pose_grid_df

# The reference's tool-frame sample corners, TL,TR,BR,BL (±90 mm
# square, point3d_transformation.py:139).
TOOL_CORNERS = ((90.0, 90.0, 0.0), (-90.0, 90.0, 0.0),
                (-90.0, -90.0, 0.0), (90.0, -90.0, 0.0))
MISSING_POSE_IDS = (51, 126, 722, 1414, 2203)
_CORNER_SCHEMA = StructType([StructField("corner_idx", IntegerType()),
                             StructField("px", DoubleType()),
                             StructField("py", DoubleType()),
                             StructField("pz", DoubleType())])


def literal_rows(rows: "list[tuple]", schema: StructType) -> Column:
    """A driver-local table as ONE literal ``ARRAY<STRUCT>`` column
    typed by ``schema`` (every field nullable, as
    ``spark.createDataFrame`` infers it); ``F.inline`` of it yields
    the rows. The table is built in the JVM: ``createDataFrame`` on a
    Python list runs its rows through a PythonRDD, which starts a
    second ``pyspark.daemon`` (its own worker-factory key, freshly
    forked workers re-importing pandas/pyarrow) and pays a Python
    task per partition for a few literals."""
    return (F.array(*[F.struct(*[F.lit(v) for v in r]) for r in rows])
            .cast(ArrayType(schema)))


@dataclass
class Stage:
    name: str
    build: Callable[[SparkSession], DataFrame]
    deps: tuple[str, ...] = ()


@dataclass
class Pipeline:
    """Minimal DAG runner with path-existence memoization."""
    root: str
    stages: dict[str, Stage] = field(default_factory=dict)

    def add(self, name: str, build, deps: tuple[str, ...] = ()) -> None:
        self.stages[name] = Stage(name, build, deps)

    def path(self, name: str) -> str:
        # string join, not os.path.join: the root may be a Hadoop URI
        # (s3a://, hdfs://) that os.path semantics would mangle on
        # some platforms.
        return f"{self.root.rstrip('/')}/{name}"

    def done(self, name: str, spark: SparkSession | None = None) -> bool:
        """Stage complete = committed ``_SUCCESS`` marker exists. With
        a session, the check resolves through the Hadoop FileSystem
        API (works on any Spark-readable store — the 100 TB deployment
        premise); without one it falls back to the local filesystem."""
        marker = f"{self.path(name)}/_SUCCESS"
        if spark is not None:
            from ..fs import path_exists
            return path_exists(spark, marker)
        return os.path.exists(marker)

    def run(self, spark: SparkSession, name: str,
            force: bool = False) -> DataFrame:
        self._materialize(spark, name, force)
        return spark.read.parquet(self.path(name))

    def _materialize(self, spark: SparkSession, name: str,
                     force: bool) -> None:
        """Write ``name`` (deps first) unless memoized. Deps are only
        materialized, not read: each ``spark.read.parquet`` infers its
        schema from a footer in a Spark job of its own."""
        st = self.stages[name]
        for dep in st.deps:
            self._materialize(spark, dep, force)
        if force or not self.done(name, spark):
            st.build(spark).write.mode("overwrite").parquet(self.path(name))


def world_corner_points(spark: SparkSession,
                        missing: tuple[int, ...] = MISSING_POSE_IDS
                        ) -> DataFrame:
    """The full ``process_coords`` dataflow
    (point3d_transformation.py:123-156) as ONE declarative plan:

    pose lattice (F14) → anti-filter missing ids (P3/J4) → Euler→R
    trig expressions (F13) → homogeneous transform of the 4 tool
    corners (F12) — all closed-form column math, zero UDFs, so
    Catalyst constant-folds the lattice and codegens the trig.

    Output: (pose_id, corner_idx, x, y, z) — the ``world_points``
    table of SURVEY §1.1.
    """
    grid = pose_grid_df(spark).filter(
        ~F.col("pose_id").isin(list(missing)))
    R = euler_zyx_matrix_cols(F.col("ea"), F.col("eb"), F.col("ec"))

    # the 4 tool corners fan out in-row (no join, no broadcast job):
    # same rows, same per-pose corner order as a crossJoin
    df = grid.select("*", F.inline(literal_rows(
        [(i, *c) for i, c in enumerate(TOOL_CORNERS)], _CORNER_SCHEMA)))
    px, py, pz = F.col("px"), F.col("py"), F.col("pz")
    return df.select(
        "pose_id", "corner_idx",
        (R["r00"] * px + R["r01"] * py + R["r02"] * pz + F.col("gx"))
        .alias("x"),
        (R["r10"] * px + R["r11"] * py + R["r12"] * pz + F.col("gy"))
        .alias("y"),
        (R["r20"] * px + R["r21"] * py + R["r22"] * pz + F.col("gz"))
        .alias("z"),
    )


def build_calibration_pipeline(root: str) -> Pipeline:
    """The reference's 4-stage DAG skeleton (data_pipeline.py:10-56)
    with Parquet memoization; stages 1-2 (camera calib / corner
    detection) are U-stage pipelines wired in by callers that own a
    file corpus, stage 3 is fully declarative."""
    p = Pipeline(root=root)
    p.add("pose_grid", lambda s: pose_grid_df(s))
    p.add("world_points", world_corner_points, deps=("pose_grid",))
    return p


def write_stats_artifact(spark: SparkSession, path: str,
                         matrices: dict[str, np.ndarray],
                         stats: dict[str, float]) -> None:
    """S6: the ``np.savez`` sink (camera_calib.py:124-128,
    extrinsic_calibration.py:381-387) as a single-row Parquet write —
    each matrix a flattened ARRAY<DOUBLE> plus a shape column, each
    stat a DOUBLE column. One row, one file: the calibration artifact
    every downstream stage broadcasts.

    The row is built JVM-side (:func:`literal_rows`) with the schema
    ``spark.createDataFrame([row])`` would infer: columns in sorted
    name order, ``ARRAY<DOUBLE>`` / ``ARRAY<BIGINT>`` / ``DOUBLE``,
    all nullable."""
    cols = {}
    for name, m in matrices.items():
        arr = np.asarray(m, dtype=np.float64)
        cols[name] = ([float(x) for x in arr.ravel()],
                      ArrayType(DoubleType()))
        cols[f"{name}_shape"] = ([int(s) for s in arr.shape],
                                 ArrayType(LongType()))
    cols.update({k: (float(v), DoubleType()) for k, v in stats.items()})
    names = sorted(cols)
    schema = StructType([StructField(n, cols[n][1]) for n in names])
    row = tuple(cols[n][0] for n in names)
    (spark.range(0, 1, 1, 1).select(F.inline(literal_rows([row], schema)))
     .write.mode("overwrite").parquet(path))


def read_stats_artifact(spark: SparkSession, path: str
                        ) -> tuple[dict[str, np.ndarray], dict[str, float]]:
    """S6 read-back: reconstruct matrices (reshaped from the flat
    arrays) and scalar stats from a stats artifact."""
    row = spark.read.parquet(path).head().asDict()
    shapes = {k.removesuffix("_shape"): v for k, v in row.items()
              if k.endswith("_shape")}
    matrices = {k: np.array(row[k], dtype=np.float64).reshape(shape)
                for k, shape in shapes.items()}
    stats = {k: v for k, v in row.items()
             if k not in matrices and not k.endswith("_shape")}
    return matrices, stats


def synthetic_pixel_corners(world: DataFrame, K: np.ndarray,
                            dist: np.ndarray, rvec: np.ndarray,
                            tvec: np.ndarray,
                            drop_rate_mod: int = 200) -> DataFrame:
    """Project the ``world`` corner table (:func:`world_corner_points`
    rows, typically its memoized stage output) through a known camera
    to fabricate the ``pixel_corners`` table (FIXTURES.md §1) — the
    synthetic scene used by property tests for U6/U7/U8; every
    ``drop_rate_mod``-th pose is dropped to make pixel∩world a real
    intersection (X1/J2)."""
    from ..udf.geometry import with_projection

    params = np.concatenate([rvec, tvec])
    proj = with_projection(world, params, K, dist)
    return (proj
            .filter(F.pmod(F.col("pose_id"), F.lit(drop_rate_mod)) != 7)
            .select(F.col("pose_id").cast("string").alias("img_id"),
                    "corner_idx",
                    F.col("u_hat").alias("u"),
                    F.col("v_hat").alias("v")))
