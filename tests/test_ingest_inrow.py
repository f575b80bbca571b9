"""r16 optimization pins: the in-row ingest placement paths must stay
row-for-row equal to the join-based shapes they replaced.

- ANN: ``_attach_buckets`` (payload carried through the staged sign
  folds, L-way explode) ≡ ``delta.join(_mt_bucket_frame(delta, ...),
  id)`` — same rows, single- and multi-table.
- IVF: ``_attach_cells`` (Arrow-batched numpy argmax over the frozen
  centroid matrix) ≡ the former ``_cell_scores`` crossJoin →
  ``max_by(cell, struct(score, -cell))`` → join-back — same
  assignment for every vector, including score ties.
- The frozen-centroid memo serves the SAME rows object on a clean hit
  and still re-reads (and digest-checks) after any table rewrite.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from light_redistribution_in_3dptf_data_pipeline_spark.catalog import load_table
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ann_index as A)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ivf_index as I)

SF_DIR = "/root/testdata/sf0.001"


def _delta(spark, n=60):
    emb = load_table(spark, SF_DIR, "embeddings")
    return (emb.filter(F.col("vec_id") < n)
            .select("vec_id",
                    F.col("embedding").cast("array<float>")
                    .alias("embedding"))
            .localCheckpoint())


def test_attach_buckets_equals_join_shape(spark):
    delta = _delta(spark)
    for nt in (1, 4):
        want = sorted(
            (r.vec_id, r.bucket) for r in
            delta.join(A._mt_bucket_frame(delta, "vec_id",
                                          "embedding", 8, 64, nt),
                       "vec_id")
            .select("vec_id", "bucket").collect())
        got = sorted(
            (r.vec_id, r.bucket) for r in
            A._attach_buckets(delta, 8, 64, nt)
            .select("vec_id", "bucket").collect())
        assert got == want, f"num_tables={nt}"
        # payload rides along intact: one embedding per (vec, table)
        n = A._attach_buckets(delta, 8, 64, nt).count()
        assert n == delta.count() * nt


def test_attach_cells_equals_crossjoin_maxby(spark, tmp_path):
    delta = _delta(spark)
    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root,
                     load_table(spark, SF_DIR, "embeddings"))
    meta = I._load_meta(spark, root)
    cent_rows = I._load_centroids(spark, root, meta)
    cents = spark.createDataFrame(
        [(int(r.cell), [int(s) for s in r.csum], int(r.nv))
         for r in cent_rows],
        "cell BIGINT, csum ARRAY<BIGINT>, nv BIGINT")
    scored = I._cell_scores(delta, cents, meta["dim"])
    want = {r.vec_id: r.cell for r in
            (scored.groupBy("vec_id")
             .agg(F.max_by(F.col("cell"),
                           F.struct(F.col("score"),
                                    (-F.col("cell")).alias("nc")))
                  .alias("cell"))).collect()}
    got = {r.vec_id: r.cell for r in
           I._attach_cells(delta, cent_rows, meta["dim"])
           .select("vec_id", "cell").collect()}
    assert got == want and len(got) == delta.count()


def test_attach_cells_tie_breaks_to_lower_cell(spark):
    # two identical centroids (exact tie for every vector) — the
    # numpy argmax must pick the LOWER cell id, like max_by's
    # (score, -cell) struct order
    from pyspark.sql import Row

    delta = _delta(spark, n=10)
    base = [1] * 64
    cent_rows = [Row(cell=7, csum=list(base), nv=2),
                 Row(cell=3, csum=list(base), nv=2)]
    got = {r.vec_id: r.cell for r in
           I._attach_cells(delta, cent_rows, 64)
           .select("vec_id", "cell").collect()}
    assert set(got.values()) == {3}


def test_centroid_memo_hit_and_rewrite_revalidation(spark, tmp_path):
    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root,
                     load_table(spark, SF_DIR, "embeddings"))
    meta = I._load_meta(spark, root)
    # age the table out of the mtime-granularity window FIRST (r17):
    # a just-written table is deliberately re-read on every call
    # (same-tick rewrite hazard — see _load_centroids), so the
    # zero-read hit contract only holds for the steady state
    import os
    import time
    cdir = f"{root}/{I.CENTROIDS_TABLE}"
    old = time.time() - 60
    for name in os.listdir(cdir):
        os.utime(os.path.join(cdir, name), (old, old))
    r1 = I._load_centroids(spark, root, meta)
    # clean hit: the memo serves the same rows object (no re-read)
    assert I._load_centroids(spark, root, meta) is r1
    # out-of-band rewrite with the SAME content: listing changes →
    # miss → re-read → digest still matches → fresh (non-identical)
    # rows; with TAMPERED content the digest guard must still trip
    # (pinned in test_ivf_ingest.py::test_quantizer_is_frozen...)
    same = spark.createDataFrame(
        [(int(r.cell), [int(s) for s in r.csum], int(r.nv))
         for r in r1], "cell BIGINT, csum ARRAY<BIGINT>, nv BIGINT")
    same.coalesce(1).write.mode("overwrite").parquet(
        f"{root}/{I.CENTROIDS_TABLE}")
    r2 = I._load_centroids(spark, root, meta)
    assert r2 is not r1
    assert sorted((int(r.cell), int(r.nv)) for r in r2) == \
        sorted((int(r.cell), int(r.nv)) for r in r1)


def test_centroid_broadcast_reused_across_ingests(spark, tmp_path):
    """Repeated ingests into one IVF root ship ONE centroid broadcast
    (memoized by root + centroid digest) instead of creating, and
    never destroying, one per call; an evicted handle is destroyed."""
    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root,
                     load_table(spark, SF_DIR, "embeddings"))
    delta = _delta(spark, n=40)
    handles = []
    for i in range(2):
        I.ivf_ingest_delta(spark, root,
                           delta.filter(F.col("vec_id") % 2 == i),
                           f"b{i}")
        handles.append([bc for (r, _), (_, bc)
                        in I._CENTROID_BCAST.items() if r == root])
    assert len(handles[0]) == 1 and handles[0] == handles[1]
    bc = handles[0][0]
    assert I.assign_cells(spark, root, delta).count() == delta.count()
    assert [b for (r, _), (_, b) in I._CENTROID_BCAST.items()
            if r == root] == [bc]
    # bounded: filling the memo with other keys evicts and destroys
    # the oldest handle
    cent_rows = I._load_centroids(spark, root, I._load_meta(spark, root))
    for k in range(I._CENTROIDS_CACHE_MAX):
        I._centroid_broadcast(spark.sparkContext, f"other{k}", cent_rows,
                              lambda: k)
    assert len(I._CENTROID_BCAST) == I._CENTROIDS_CACHE_MAX
    assert all(r != root for r, _ in I._CENTROID_BCAST)
