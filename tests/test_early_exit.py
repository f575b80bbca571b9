"""Probe-time early exit from per-cell/bucket direction-box
statistics (plans/cellstats.py — VERDICT r12 brief #1): the bound is
SOUND (early-exit ≡ full-scan row-for-row at every fan-out, both
families, both storages, with and without rerank), the pruning
actually fires on clustered data, the stats survive the
ingest → retain → compact lifecycle (widen-only between compactions,
exact recompute at compaction), legacy stats-less roots degrade to
the plain probe, and the fsck names a box that no longer covers a
live row."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from light_redistribution_in_3dptf_data_pipeline_spark.catalog import load_table
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ann_index as A)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    cellstats as CS)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ivf_index as I)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    postings as P)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    recall as R)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def cl(spark, emb):
    """The separable mixture fixture — the regime where boxes are
    tight and early exit pays."""
    return R.clustered_embeddings(emb).localCheckpoint()


@pytest.fixture(scope="module")
def roots(spark, cl, tmp_path_factory):
    """IVF float/int8 + LSH float/int8 roots over the clustered
    fixture, each ingested in TWO deltas (so widen-merge ran)."""
    base = tmp_path_factory.mktemp("ee")
    out = {}
    a, b = cl.filter("vec_id % 2 = 0"), cl.filter("vec_id % 2 = 1")
    for storage in ("float", "int8"):
        ir = str(base / f"ivf_{storage}")
        I.init_ivf_index(spark, ir, cl, train_k=8,
                         train_metric="dot", storage=storage)
        I.ivf_ingest_delta(spark, ir, a, "d1")
        I.ivf_ingest_delta(spark, ir, b, "d2")
        ar = str(base / f"ann_{storage}")
        A.ann_ingest_delta(spark, ar, a, "d1", storage=storage)
        A.ann_ingest_delta(spark, ar, b, "d2", storage=storage)
        out[f"ivf_{storage}"], out[f"ann_{storage}"] = ir, ar
    return out


def _qvec(df, vid):
    return [float(x) for x in
            df.filter(F.col("vec_id") == vid)
            .select("embedding").head()[0]]


def _rows(df):
    return [(int(r.vec_id), float(r.cosine)) for r in df.collect()]


def test_early_exit_equals_full_scan_ivf(spark, cl, roots):
    """The parity pin: every fan-out, both storages, with and
    without rerank — pruning loses NOTHING."""
    for storage in ("float", "int8"):
        root = roots[f"ivf_{storage}"]
        for vid in (0, 3, 41):
            qv = _qvec(cl, vid)
            for nprobe in (2, 4, 8):
                want = _rows(I.ivf_incremental_topk(
                    spark, root, qv, k=10, nprobe=nprobe,
                    exclude_id=vid))
                got = _rows(I.ivf_incremental_topk(
                    spark, root, qv, k=10, nprobe=nprobe,
                    exclude_id=vid, early_exit=True))
                assert got == want, (storage, vid, nprobe)
        if storage == "int8":
            qv = _qvec(cl, 0)
            want = _rows(I.ivf_incremental_topk(
                spark, root, qv, k=5, nprobe=4, exclude_id=0,
                rerank_vectors=cl))
            got = _rows(I.ivf_incremental_topk(
                spark, root, qv, k=5, nprobe=4, exclude_id=0,
                rerank_vectors=cl, early_exit=True))
            assert got == want


def test_early_exit_equals_full_scan_ann(spark, cl, roots):
    for storage in ("float", "int8"):
        root = roots[f"ann_{storage}"]
        for vid in (0, 3, 41):
            qv = _qvec(cl, vid)
            for hamming in (1, 2):
                want = _rows(A.ann_incremental_topk(
                    spark, root, qv, k=10, hamming=hamming,
                    exclude_id=vid))
                got = _rows(A.ann_incremental_topk(
                    spark, root, qv, k=10, hamming=hamming,
                    exclude_id=vid, early_exit=True))
                assert got == want, (storage, vid, hamming)
        if storage == "int8":
            qv = _qvec(cl, 0)
            want = _rows(A.ann_incremental_topk(
                spark, root, qv, k=5, hamming=2, exclude_id=0,
                rerank_vectors=cl))
            got = _rows(A.ann_incremental_topk(
                spark, root, qv, k=5, hamming=2, exclude_id=0,
                rerank_vectors=cl, early_exit=True))
            assert got == want


def test_pruning_fires_on_clustered_data(spark, cl, roots):
    """The point of the feature: at nprobe=4 on the separated
    mixture, the 3 non-seed cells' best-possible cosine against a
    query deep in its own cluster is below the in-cluster kth —
    they get SKIPPED (the scan prune PLANS.md audits)."""
    root = roots["ivf_int8"]
    stats = CS.load_stats(spark, root)
    assert stats is not None and stats["payload"] == "code"
    qv = _qvec(cl, 0)
    import math
    qci = [math.floor(x * 1e9 + 0.5) for x in qv]
    qsq = sum(c * c for c in qci) / 1e18
    meta = I._load_meta(spark, root)
    ranked = sorted(
        ((float(sum(int(s) * q for s, q in zip(r.csum, qci)))
          / (r.nv * 1e18), int(r.cell))
         for r in I._load_centroids(spark, root, meta)),
        key=lambda t: (-t[0], t[1]))
    probe_cells = [c for _, c in ranked[:4]]
    scan = I.read_ivf_postings(spark, root)
    scored, pruned = CS.early_exit_scored(
        stats, scan, "cell", probe_cells, qci, qsq, 10,
        lambda s: P.scores(I.IVF, s, qci, qsq, 0, "int8"))
    assert len(pruned) == 3, (probe_cells, pruned)
    # and the surviving frame still yields the exact top-k
    want = _rows(I.ivf_incremental_topk(spark, root, qv, k=10,
                                        nprobe=4, exclude_id=0))
    got = [(int(r.vec_id), float(r.cosine)) for r in
           scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
           .limit(10).collect()]
    assert got == want


def test_stats_lifecycle_and_fsck(spark, cl, tmp_path):
    """widen at ingest → superset after retention → exact recompute
    at compaction; the fsck checks coverage throughout and names a
    tampered box."""
    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root, cl, train_k=8, train_metric="dot",
                     storage="int8")
    I.ivf_ingest_delta(spark, root, cl.filter("vec_id < 200"), "d1")
    rep = I.verify_ivf_index(spark, root)
    assert rep["cellstats_check"] == "checked"
    assert rep["violations"] == []

    I.ivf_ingest_delta(spark, root,
                       cl.filter("vec_id >= 200"), "d2")
    I.delete_ivf_vectors(spark, root, [1, 2, 3])
    rep = I.verify_ivf_index(spark, root)   # superset still covers
    assert rep["cellstats_check"] == "checked"
    assert rep["violations"] == []

    before = CS.load_stats(spark, root)
    I.compact_ivf_batches(spark, root)      # exact re-tighten
    after = CS.load_stats(spark, root)
    assert sum(e["n"] for e in after["keys"].values()) == \
        I.read_ivf_postings(spark, root).count()
    # recompute can only tighten or keep each bound
    for key, ent in after["keys"].items():
        old = before["keys"][key]
        assert all(n >= o for n, o in zip(ent["dmin"], old["dmin"]))
        assert all(n <= o for n, o in zip(ent["dmax"], old["dmax"]))
    rep = I.verify_ivf_index(spark, root)
    assert rep["cellstats_check"] == "checked"
    assert rep["violations"] == []

    # tamper: shrink one box — the fsck must name the coverage hole
    doc = CS.load_stats(spark, root)
    key = next(iter(doc["keys"]))
    doc["keys"][key]["dmax"] = [-1.0] * len(doc["keys"][key]["dmax"])
    from light_redistribution_in_3dptf_data_pipeline_spark.fs import (
        write_text_atomic)
    write_text_atomic(spark, f"{root}/{CS.STATS_NAME}",
                      json.dumps(doc))
    rep = I.verify_ivf_index(spark, root)
    assert any("cellstats" in v for v in rep["violations"])


def test_legacy_root_degrades_and_compaction_upgrades(spark, cl,
                                                      tmp_path):
    """A stats-less root: probes with early_exit=True fall back to
    the plain plan (same rows), further ingests do NOT start a
    partial (unsound) box, and the first compaction creates the
    file."""
    from light_redistribution_in_3dptf_data_pipeline_spark.fs import (
        delete_path)

    root = str(tmp_path / "ann")
    A.ann_ingest_delta(spark, root, cl.filter("vec_id < 200"), "d1",
                       storage="int8")
    delete_path(spark, f"{root}/{CS.STATS_NAME}")   # legacy root
    A.ann_ingest_delta(spark, root, cl.filter("vec_id >= 200"), "d2")
    assert CS.load_stats(spark, root) is None   # no partial box
    rep = A.verify_ann_index(spark, root)
    assert rep["cellstats_check"].startswith("skipped: no stats")
    assert rep["violations"] == []

    qv = _qvec(cl, 0)
    want = _rows(A.ann_incremental_topk(spark, root, qv, k=10,
                                        exclude_id=0))
    got = _rows(A.ann_incremental_topk(spark, root, qv, k=10,
                                       exclude_id=0,
                                       early_exit=True))
    assert got == want

    A.compact_ann_batches(spark, root)          # the upgrade pass
    stats = CS.load_stats(spark, root)
    assert stats is not None
    assert sum(e["n"] for e in stats["keys"].values()) == \
        A.read_ann_index(spark, root).count()
    rep = A.verify_ann_index(spark, root)
    assert rep["cellstats_check"] == "checked"
    assert rep["violations"] == []


def test_crashed_ingest_leaves_sound_superset(spark, cl, tmp_path):
    """The write-ahead story: a crash between the stats widen and
    the manifest leaves boxes covering never-committed rows — a
    SUPERSET, and the same-id retry stays fsck-clean."""
    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root, cl, train_k=8, storage="int8")
    I.ivf_ingest_delta(spark, root, cl.filter("vec_id < 100"), "d1")
    with pytest.raises(RuntimeError, match="injected crash"):
        I.ivf_ingest_delta(spark, root,
                           cl.filter("vec_id >= 100"), "d2",
                           _crash_after=I.IVF_TABLE)
    rep = I.verify_ivf_index(spark, root)
    assert rep["cellstats_check"] == "checked"
    assert rep["violations"] == []
    I.ivf_ingest_delta(spark, root, cl.filter("vec_id >= 100"), "d2")
    rep = I.verify_ivf_index(spark, root)
    assert rep["cellstats_check"] == "checked"
    assert rep["violations"] == []


def test_batch_early_exit_equals_plain(spark, cl, roots):
    """Batch probes with early_exit=True equal the plain batch probe
    per qid — both families, both storages, incl. the int8 rerank
    and the chunked loop (the knobs compose)."""
    qids = [0, 3, 17, 41]
    queries = (cl.filter(F.col("vec_id").isin(qids))
               .select(F.col("vec_id").alias("qid"), "embedding"))

    def rows(df):
        return sorted((int(r.qid), int(r.vec_id), float(r.cosine))
                      for r in df.collect())

    for storage in ("float", "int8"):
        want = rows(I.ivf_batch_topk(spark, roots[f"ivf_{storage}"],
                                     queries, k=10, nprobe=4))
        got = rows(I.ivf_batch_topk(spark, roots[f"ivf_{storage}"],
                                    queries, k=10, nprobe=4,
                                    early_exit=True))
        assert got == want, storage
        wanta = rows(A.ann_batch_topk(spark, roots[f"ann_{storage}"],
                                      queries, k=10, hamming=1))
        gota = rows(A.ann_batch_topk(spark, roots[f"ann_{storage}"],
                                     queries, k=10, hamming=1,
                                     early_exit=True))
        assert gota == wanta, storage

    # int8 + exact rerank + chunking, all composed with early exit
    want = rows(I.ivf_batch_topk(spark, roots["ivf_int8"], queries,
                                 k=5, nprobe=4, rerank_vectors=cl))
    got = rows(I.ivf_batch_topk(spark, roots["ivf_int8"], queries,
                                k=5, nprobe=4, rerank_vectors=cl,
                                early_exit=True,
                                max_queries_per_job=2))
    assert got == want
    wanta = rows(A.ann_batch_topk(spark, roots["ann_int8"], queries,
                                  k=5, hamming=2, rerank_vectors=cl))
    gota = rows(A.ann_batch_topk(spark, roots["ann_int8"], queries,
                                 k=5, hamming=2, rerank_vectors=cl,
                                 early_exit=True,
                                 max_queries_per_job=2))
    assert gota == wanta


# ---------------------------------------------------------------- r14


def test_seed_mode_equals_full_scan(spark, cl, roots):
    """early_exit="seed" (the r13 two-phase shape, now opt-in)
    stays row-for-row equal at single-query and batch fan-outs."""
    qids = [0, 3, 41]
    queries = (cl.filter(F.col("vec_id").isin(qids))
               .select(F.col("vec_id").alias("qid"), "embedding"))

    def rows(df):
        return sorted((int(r.qid), int(r.vec_id), float(r.cosine))
                      for r in df.collect())

    for storage in ("float", "int8"):
        root = roots[f"ivf_{storage}"]
        qv = _qvec(cl, 3)
        want = _rows(I.ivf_incremental_topk(
            spark, root, qv, k=10, nprobe=4, exclude_id=3))
        got = _rows(I.ivf_incremental_topk(
            spark, root, qv, k=10, nprobe=4, exclude_id=3,
            early_exit="seed"))
        assert got == want, storage
        wantb = rows(I.ivf_batch_topk(spark, root, queries, k=10,
                                      nprobe=4))
        gotb = rows(I.ivf_batch_topk(spark, root, queries, k=10,
                                     nprobe=4, early_exit="seed"))
        assert gotb == wantb, storage

        aroot = roots[f"ann_{storage}"]
        want = _rows(A.ann_incremental_topk(
            spark, aroot, qv, k=10, hamming=2, exclude_id=3))
        got = _rows(A.ann_incremental_topk(
            spark, aroot, qv, k=10, hamming=2, exclude_id=3,
            early_exit="seed"))
        assert got == want, storage
        wantb = rows(A.ann_batch_topk(spark, aroot, queries, k=10,
                                      hamming=1))
        gotb = rows(A.ann_batch_topk(spark, aroot, queries, k=10,
                                     hamming=1, early_exit="seed"))
        assert gotb == wantb, storage


def test_early_exit_mode_validation(spark, cl, roots):
    qv = _qvec(cl, 0)
    with pytest.raises(ValueError, match="early_exit must be"):
        I.ivf_incremental_topk(spark, roots["ivf_float"], qv,
                               early_exit="turbo")


def test_box_mode_prunes_without_seed_job(spark, cl, roots):
    """The r14 point: the BOX floor alone (pure driver arithmetic,
    no seed scan) prunes the 3 separated non-seed cells at nprobe=4
    on the clustered fixture — so early_exit=True costs zero extra
    jobs while skipping the same posting lists the r13 seeded
    threshold did."""
    import math

    root = roots["ivf_int8"]
    stats = CS.load_stats(spark, root)
    qv = _qvec(cl, 0)
    qci = [math.floor(x * 1e9 + 0.5) for x in qv]
    qsq = sum(c * c for c in qci) / 1e18
    meta = I._load_meta(spark, root)
    ranked = sorted(
        ((float(sum(int(s) * q for s, q in zip(r.csum, qci)))
          / (r.nv * 1e18), int(r.cell))
         for r in I._load_centroids(spark, root, meta)),
        key=lambda t: (-t[0], t[1]))
    probe_cells = [c for _, c in ranked[:4]]
    kept, pruned = CS.box_prune_keys(stats, probe_cells, qci, qsq, 10)
    assert len(pruned) == 3 and kept == [probe_cells[0]], (
        probe_cells, pruned)


def test_nz_lifecycle_and_legacy_stats(spark, cl, tmp_path):
    """nz (the box-mode candidate floor) sums across widen merges,
    is recomputed at compaction, and an r13-era stats file WITHOUT
    nz degrades box mode to no-pruning (sound) while seed mode still
    prunes — both parity-pinned."""
    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root, cl, train_k=8, train_metric="dot",
                     storage="int8")
    I.ivf_ingest_delta(spark, root, cl.filter("vec_id < 200"), "d1")
    I.ivf_ingest_delta(spark, root, cl.filter("vec_id >= 200"), "d2")
    stats = CS.load_stats(spark, root)
    total = I.read_ivf_postings(spark, root).count()
    assert sum(e["n"] for e in stats["keys"].values()) == total
    # no zero vectors in the clustered fixture: nz == n everywhere
    assert all(e.get("nz") == e["n"] for e in stats["keys"].values())

    # strip nz -> r13-era file; box mode must stop pruning but stay
    # correct; seed mode still prunes off the measured threshold
    import math

    from light_redistribution_in_3dptf_data_pipeline_spark.fs import (
        write_text_atomic)

    legacy = {"version": 1, "payload": stats["payload"],
              "keys": {k: {kk: vv for kk, vv in e.items()
                           if kk != "nz"}
                       for k, e in stats["keys"].items()}}
    write_text_atomic(spark, f"{root}/{CS.STATS_NAME}",
                      json.dumps(legacy))
    qv = _qvec(cl, 0)
    qci = [math.floor(x * 1e9 + 0.5) for x in qv]
    qsq = sum(c * c for c in qci) / 1e18
    doc = CS.load_stats(spark, root)
    some_keys = [int(k) for k in sorted(doc["keys"])][:4]
    kept, pruned = CS.box_prune_keys(doc, some_keys, qci, qsq, 10)
    assert pruned == [] and kept == some_keys
    want = _rows(I.ivf_incremental_topk(spark, root, qv, k=10,
                                        nprobe=4, exclude_id=0))
    for mode in (True, "seed"):
        got = _rows(I.ivf_incremental_topk(spark, root, qv, k=10,
                                           nprobe=4, exclude_id=0,
                                           early_exit=mode))
        assert got == want, mode

    # a widen over the legacy file must NOT invent nz for merged keys
    I.ivf_ingest_delta(
        spark, root,
        cl.filter("vec_id < 50").withColumn(
            "vec_id", F.col("vec_id") + 1_000_000), "d3")
    merged = CS.load_stats(spark, root)
    touched = [k for k, e in merged["keys"].items()
               if e["n"] > legacy["keys"].get(k, {"n": 0})["n"]]
    assert touched, "delta landed in no key?"
    assert all("nz" not in merged["keys"][k] for k in touched)

    # compaction recomputes exactly -> nz back everywhere
    I.compact_ivf_batches(spark, root)
    after = CS.load_stats(spark, root)
    assert all("nz" in e for e in after["keys"].values())
    rep = I.verify_ivf_index(spark, root)
    assert rep["violations"] == []


def _mk_null_seed_ivf(spark, tmp_path, storage="float"):
    """An adversarial root for the ADVICE r13 medium bug: the
    query's rank-1 cell holds 3 scorable rows + 20 ZERO vectors
    (NULL cosine, fills seed slots), the rank-2 cell holds the true
    ranks 4..10 — an overestimated seed threshold wrongly prunes
    cell 1."""
    dim = 64

    def vec(axis_vals):
        v = [0.0] * dim
        for i, x in axis_vals:
            v[i] = x
        return v

    train = spark.createDataFrame(
        [(0, vec([(0, 1.0)]), 0),
         (1, vec([(0, 0.7), (1, 0.714142)]), 1)],
        "vec_id LONG, embedding ARRAY<FLOAT>, label LONG")
    root = str(tmp_path / f"nullseed_{storage}")
    I.init_ivf_index(spark, root, train, storage=storage)
    rows = []
    for j in range(3):   # scorable seed rows, cosine ~1
        rows.append((1 + j, vec([(0, 1.0), (2, 0.001 * j)]), 0))
    for j in range(20):  # zero vectors: NULL cosine, cell 0
        rows.append((100 + j, [0.0] * dim, 0))
    for j in range(10):  # the true ranks 4..10 live here
        rows.append((200 + j, vec([(0, 0.7), (1, 0.714142),
                                   (2, 0.0005 * j)]), 1))
    content = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, cell LONG")
    I.ivf_ingest_delta(spark, root, content, "d1", cell_col="cell")
    return root, vec([(0, 1.0)])


def test_null_cosine_seed_gate_ivf(spark, tmp_path):
    """ADVICE r13 (medium): zero-vector rows in the seed cell must
    not inflate the >= m gate — seed-mode batch and single-query
    probes stay row-for-row equal to the plain probe even when the
    seed cell cannot fill the top-k with scorable rows."""
    root, qv = _mk_null_seed_ivf(spark, tmp_path)
    queries = spark.createDataFrame(
        [(999, qv)], "qid LONG, embedding ARRAY<FLOAT>")

    def rows(df):
        return sorted(
            (int(r.qid), int(r.vec_id),
             None if r.cosine is None else float(r.cosine))
            for r in df.collect())

    want = rows(I.ivf_batch_topk(spark, root, queries, k=10,
                                 nprobe=2))
    # the true ranks 4..10 come from cell 1 and must survive
    assert sum(1 for _, v, _ in want if v >= 200) == 7
    for mode in ("seed", True):
        got = rows(I.ivf_batch_topk(spark, root, queries, k=10,
                                    nprobe=2, early_exit=mode))
        assert got == want, mode
    wants = _rows(I.ivf_incremental_topk(spark, root, qv, k=10,
                                         nprobe=2))
    for mode in ("seed", True):
        gots = _rows(I.ivf_incremental_topk(spark, root, qv, k=10,
                                            nprobe=2,
                                            early_exit=mode))
        assert gots == wants, mode


def test_chunked_pool_parity(spark, cl, roots):
    """chunk_concurrency=4 (now opt-in) still equals the serial
    chunk loop and the unchunked batch row-for-row — the r13 pin
    re-established THROUGH the concurrent pool under the new
    default."""
    queries = (cl.filter("vec_id < 24")
               .select(F.col("vec_id").alias("qid"), "embedding"))

    def rows(df):
        return sorted((int(r.qid), int(r.vec_id), float(r.cosine))
                      for r in df.collect())

    want = rows(I.ivf_batch_topk(spark, roots["ivf_int8"], queries,
                                 k=5, nprobe=4))
    for conc in (1, 4):
        got = rows(I.ivf_batch_topk(spark, roots["ivf_int8"],
                                    queries, k=5, nprobe=4,
                                    max_queries_per_job=7,
                                    chunk_concurrency=conc))
        assert got == want, conc
    wanta = rows(A.ann_batch_topk(spark, roots["ann_int8"], queries,
                                  k=5, hamming=1))
    gota = rows(A.ann_batch_topk(spark, roots["ann_int8"], queries,
                                 k=5, hamming=1,
                                 max_queries_per_job=7,
                                 chunk_concurrency=4,
                                 early_exit=True))
    assert gota == wanta


def test_null_cosine_seed_gate_ivf_int8(spark, tmp_path):
    """The same adversarial shape over int8 storage: zero CODES fold
    to NULL code-cosine (codes.code_cosine's csq guard) and must not
    inflate the seed gate either."""
    root, qv = _mk_null_seed_ivf(spark, tmp_path, storage="int8")
    queries = spark.createDataFrame(
        [(999, qv)], "qid LONG, embedding ARRAY<FLOAT>")

    def rows(df):
        return sorted(
            (int(r.qid), int(r.vec_id),
             None if r.cosine is None else float(r.cosine))
            for r in df.collect())

    want = rows(I.ivf_batch_topk(spark, root, queries, k=10,
                                 nprobe=2))
    assert sum(1 for _, v, _ in want if v >= 200) == 7
    for mode in ("seed", True):
        got = rows(I.ivf_batch_topk(spark, root, queries, k=10,
                                    nprobe=2, early_exit=mode))
        assert got == want, mode


def test_null_cosine_seed_gate_ann(spark, tmp_path):
    """LSH twin: zero vectors land in bucket 0 (all plane dots 0);
    a query whose own bucket is 0 sees them fill its seed slots.
    Batch + single probes, seed and box modes, all equal plain."""
    import random

    from light_redistribution_in_3dptf_data_pipeline_spark.operators.similarity import (
        query_bucket)

    dim, J = 64, 8
    rng = random.Random(7)
    # find a query whose own bucket is 0
    qv = None
    while qv is None:
        cand = [rng.uniform(-1, 1) for _ in range(dim)]
        if query_bucket(cand, J, dim) == 0:
            qv = cand
    rows = []
    for j in range(3):   # own-bucket scorable rows, cosine ~1
        rows.append((1 + j, [x * (1.0 + 0.1 * j) for x in qv]))
    for j in range(20):  # zero vectors -> bucket 0, NULL cosine
        rows.append((100 + j, [0.0] * dim))
    # neighbors at Hamming distance 1 with mid cosine
    found = 0
    while found < 10:
        r = [rng.uniform(-1, 1) for _ in range(dim)]
        w = [0.5 * a + 0.5 * b for a, b in zip(qv, r)]
        b = query_bucket(w, J, dim)
        if b != 0 and bin(b).count("1") == 1:
            rows.append((200 + found, w))
            found += 1
    content = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id LONG, embedding ARRAY<FLOAT>")
    root = str(tmp_path / "ann_nullseed")
    A.ann_ingest_delta(spark, root, content, "d1")

    qvf = [float(x) for x in qv]
    want = _rows(A.ann_incremental_topk(spark, root, qvf, k=10,
                                        hamming=1))
    assert any(v >= 200 for v, _ in want)
    for mode in ("seed", True):
        got = _rows(A.ann_incremental_topk(spark, root, qvf, k=10,
                                           hamming=1,
                                           early_exit=mode))
        assert got == want, mode

    queries = spark.createDataFrame(
        [(999, qvf)], "qid LONG, embedding ARRAY<FLOAT>")

    def brows(df):
        return sorted(
            (int(r.qid), int(r.vec_id),
             None if r.cosine is None else float(r.cosine))
            for r in df.collect())

    wantb = brows(A.ann_batch_topk(spark, root, queries, k=10,
                                   hamming=1))
    for mode in ("seed", True):
        gotb = brows(A.ann_batch_topk(spark, root, queries, k=10,
                                      hamming=1, early_exit=mode))
        assert gotb == wantb, mode


def test_seed2_iterative_tightening_parity(spark, cl, roots):
    """early_exit="seed2" (r13 VERDICT #7 — band-at-a-time
    re-tightening) stays row-for-row equal at batch fan-outs, both
    families and storages; single-query probes treat it as seed."""
    qids = [0, 3, 17, 41]
    queries = (cl.filter(F.col("vec_id").isin(qids))
               .select(F.col("vec_id").alias("qid"), "embedding"))

    def rows(df):
        return sorted((int(r.qid), int(r.vec_id), float(r.cosine))
                      for r in df.collect())

    for storage in ("float", "int8"):
        want = rows(I.ivf_batch_topk(spark, roots[f"ivf_{storage}"],
                                     queries, k=10, nprobe=8))
        got = rows(I.ivf_batch_topk(spark, roots[f"ivf_{storage}"],
                                    queries, k=10, nprobe=8,
                                    early_exit="seed2"))
        assert got == want, storage
        wanta = rows(A.ann_batch_topk(spark, roots[f"ann_{storage}"],
                                      queries, k=10, hamming=2))
        gota = rows(A.ann_batch_topk(spark, roots[f"ann_{storage}"],
                                     queries, k=10, hamming=2,
                                     early_exit="seed2"))
        assert gota == wanta, storage
    qv = _qvec(cl, 0)
    want = _rows(I.ivf_incremental_topk(
        spark, roots["ivf_int8"], qv, k=10, nprobe=4, exclude_id=0))
    got = _rows(I.ivf_incremental_topk(
        spark, roots["ivf_int8"], qv, k=10, nprobe=4, exclude_id=0,
        early_exit="seed2"))
    assert got == want


def test_seed2_prunes_more_on_asymmetric_neighborhood(spark,
                                                      tmp_path):
    """Where the iterative round bites (r13 VERDICT #7): the seed
    cell's own top-m is mediocre (L1 low), the rank-2 cell is rich
    (re-measured L2 high), and the far cells' boxes sit between —
    seed keeps them all, seed2 proves them away. On SYMMETRIC
    mixtures the measured gain is zero (either the seed threshold
    already prunes everything or the boxes are too loose for any
    threshold) — EE_COSTMODEL_r14.json records that honestly."""
    dim = 64

    def vec(pairs):
        v = [0.0] * dim
        for i, x in pairs:
            v[i] = x
        return v

    train, content = [], []
    # cell 0 (seed): centroid ~e0; 3 great + 20 mediocre members
    train.append((0, vec([(0, 1.0)]), 0))
    for j in range(3):
        content.append((j + 1, vec([(0, 1.0), (2, 0.001 * j)]), 0))
    for j in range(20):
        content.append((100 + j,
                        vec([(0, 0.55), (1, 0.835), (2, 0.002 * j)]),
                        0))
    # cell 1 (rank 2): rich — 20 members at cosine ~0.9
    train.append((1, vec([(0, 0.9), (3, 0.435)]), 1))
    for j in range(20):
        content.append((200 + j,
                        vec([(0, 0.9), (3, 0.435), (2, 0.001 * j)]),
                        1))
    # cells 2..15: tight clusters whose best-possible cosine ~0.7 —
    # above L1 (~0.55), below L2 (~0.9)
    for c in range(2, 16):
        train.append((c, vec([(0, 0.7), (c + 10, 0.714)]), c))
        for j in range(5):
            content.append((1000 * c + j,
                            vec([(0, 0.7), (c + 10, 0.714),
                                 (2, 0.001 * j)]), c))
    tdf = spark.createDataFrame(
        train, "vec_id LONG, embedding ARRAY<FLOAT>, label LONG")
    cdf = spark.createDataFrame(
        content, "vec_id LONG, embedding ARRAY<FLOAT>, cell LONG")
    root = str(tmp_path / "asym")
    I.init_ivf_index(spark, root, tdf)
    I.ivf_ingest_delta(spark, root, cdf, "d1", cell_col="cell")

    queries = spark.createDataFrame(
        [(999, [1.0] + [0.0] * (dim - 1))],
        "qid LONG, embedding ARRAY<FLOAT>")
    real = P._batch_score
    counter = {"pairs": 0}

    def counting(fam, cand, storage):
        counter["pairs"] += (cand.select("qid", "cell").distinct()
                             .count())
        return real(fam, cand, storage)

    rows = {}
    pairs = {}
    for mode in (False, "seed", "seed2"):
        P._batch_score = counting
        counter["pairs"] = 0
        try:
            rows[mode] = sorted(
                (int(r.qid), int(r.vec_id), float(r.cosine))
                for r in I.ivf_batch_topk(spark, root, queries, k=10,
                                          nprobe=16,
                                          early_exit=mode).collect())
        finally:
            P._batch_score = real
        pairs[mode] = counter["pairs"]
    assert rows["seed"] == rows[False]
    assert rows["seed2"] == rows[False]
    # plain fans out all 16 cells; seed keeps every far cell (their
    # bounds clear the mediocre L1); seed2's re-tightened threshold
    # proves all 14 away
    assert pairs[False] == 16
    assert pairs["seed"] == 16          # 1 seed + 15 survivors
    assert pairs["seed2"] == 2, pairs   # 1 seed + 1 band-2
