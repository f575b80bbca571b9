"""Incrementally-maintained IVF index (plans/ivf_index.py): frozen
quantizer, one-shot equivalence, nearest-centroid assignment,
exactly-once commits, crash recovery, id dedup, digest drift,
compaction identity, row-level retention, and the pruned-scan plan
pin — mirroring test_ann_ingest.py for the LSH index."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from light_redistribution_in_3dptf_data_pipeline_spark.catalog import load_table
from light_redistribution_in_3dptf_data_pipeline_spark.operators import (
    similarity as S)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ivf_index as I)
from light_redistribution_in_3dptf_data_pipeline_spark.plans.corpus import (
    BatchAlreadyIngested, ConcurrentWriterError, read_manifest)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def qvec(emb):
    row = emb.filter("vec_id = 0").select("embedding").collect()[0]
    return [float(x) for x in row[0]]


def _thirds(emb):
    return [emb.filter(F.pmod(F.col("vec_id"), 3) == i)
            for i in range(3)]


def _topk(spark, root, qvec):
    return [(r.vec_id, r.cosine, r.cell) for r in
            I.ivf_incremental_topk(spark, root, qvec,
                                   exclude_id=0).collect()]


def test_incremental_equals_one_shot(spark, emb, qvec, tmp_path):
    """Quantizer frozen from the labeled set + three label-carrying
    deltas return exactly the one-shot stored index's top-k (same
    centroid table ⇒ same driver-side cell ranking ⇒ same probe set
    ⇒ identical exact re-rank)."""
    root = str(tmp_path / "inc")
    I.init_ivf_index(spark, root, emb)
    for i, part in enumerate(_thirds(emb)):
        m = I.ivf_ingest_delta(spark, root, part, f"b{i}",
                               cell_col="label")
        assert m["n_admitted"] == m["n_input"] > 0
        assert m["cell_source"] == "provided"
    one = str(tmp_path / "oneshot")
    S.write_ivf_index(emb, one)
    expect = [(r.vec_id, r.cosine, r.cell) for r in
              S.ivf_indexed_topk(spark, one, qvec,
                                 exclude_id=0).collect()]
    assert _topk(spark, root, qvec) == expect
    assert I.read_ivf_postings(spark, root).count() == emb.count()
    assert I.verify_ivf_index(spark, root)["violations"] == []


def test_assignment_routes_to_nearest_frozen_centroid(
        spark, emb, qvec, tmp_path):
    """The production path: deltas WITHOUT labels are routed by the
    frozen quantizer. Placement must equal the driver-side ranking
    rule exactly (the fsck re-derives it), assignment must be
    deterministic, and the probe must find a vector placed in the
    probed cells."""
    root = str(tmp_path / "ix")
    I.init_ivf_index(spark, root, emb)
    for i, part in enumerate(_thirds(emb)):
        m = I.ivf_ingest_delta(spark, root, part, f"b{i}")
        assert m["cell_source"] == "assigned"
    v = I.verify_ivf_index(spark, root)
    assert v["violations"] == [] and v["orphans"] == []
    assert v["index_rows"] == emb.count()
    # deterministic: re-assigning the same vectors agrees with the
    # stored placement
    again = I.assign_cells(spark, root,
                           emb.select("vec_id", "embedding"))
    stored = I.read_ivf_postings(spark, root).select("vec_id", "cell")
    assert (stored.join(again.withColumnRenamed("cell", "c2"),
                        "vec_id")
            .filter(F.col("cell") != F.col("c2")).count()) == 0
    # the query's own cell is ranked first, so its nearest neighbors
    # (assigned to the same region) surface
    got = I.ivf_incremental_topk(spark, root, qvec,
                                 exclude_id=0).collect()
    assert len(got) == 10
    assert got == sorted(got, key=lambda r: (-r.cosine, r.vec_id))


def test_batch_identity_and_id_dedup(spark, emb, tmp_path):
    root = str(tmp_path / "ix")
    I.init_ivf_index(spark, root, emb)
    first, second, _ = _thirds(emb)
    I.ivf_ingest_delta(spark, root, first, "day0")
    with pytest.raises(BatchAlreadyIngested):
        I.ivf_ingest_delta(spark, root, first, "day0")
    m = I.ivf_ingest_delta(spark, root,
                           first.unionByName(second), "day1")
    assert m["n_id_dupes"] == first.count()
    assert m["n_admitted"] == second.count()


def test_crash_before_manifest_is_invisible_then_retryable(
        spark, emb, tmp_path):
    root = str(tmp_path / "ix")
    I.init_ivf_index(spark, root, emb)
    first, second, _ = _thirds(emb)
    I.ivf_ingest_delta(spark, root, first, "day0")
    with pytest.raises(RuntimeError, match="injected crash"):
        I.ivf_ingest_delta(spark, root, second, "day1",
                           _crash_after=I.IVF_TABLE)
    assert (I.read_ivf_postings(spark, root)
            .select("batch_id").distinct().collect() == [("day0",)])
    assert I.verify_ivf_index(spark, root)["orphans"] == ["day1"]
    m = I.ivf_ingest_delta(spark, root, second, "day1")
    assert m["n_admitted"] == second.count()
    v = I.verify_ivf_index(spark, root)
    assert v["violations"] == [] and v["orphans"] == []


def test_quantizer_is_frozen_and_digest_guarded(spark, emb, qvec,
                                                tmp_path):
    root = str(tmp_path / "ix")
    I.init_ivf_index(spark, root, emb)
    with pytest.raises(ValueError, match="already initialized"):
        I.init_ivf_index(spark, root, emb)
    with pytest.raises(ValueError, match="64-dim"):
        I.ivf_incremental_topk(spark, root, [0.0] * 10)
    with pytest.raises(ValueError, match="no _meta.json"):
        I.read_ivf_postings(spark, str(tmp_path / "nowhere"))
    # unknown provided cell: stored-but-never-probed data loss
    bad = emb.limit(3).withColumn("badcell", F.lit(10_000))
    with pytest.raises(ValueError, match="outside the frozen"):
        I.ivf_ingest_delta(spark, root, bad, "b0",
                           cell_col="badcell")
    # out-of-band centroid tamper: every loader refuses on digest
    I.ivf_ingest_delta(spark, root, emb, "b0")
    rows = (spark.read.parquet(f"{root}/{I.CENTROIDS_TABLE}")
            .select("cell", "csum", "nv").collect())
    tampered = spark.createDataFrame(
        [(int(r.cell), [int(s) for s in r.csum], int(r.nv) + 1)
         for r in rows], "cell BIGINT, csum ARRAY<BIGINT>, nv BIGINT")
    tampered.write.mode("overwrite").parquet(
        f"{root}/{I.CENTROIDS_TABLE}")
    with pytest.raises(ValueError, match="does not match the frozen"):
        I.ivf_incremental_topk(spark, root, qvec)
    with pytest.raises(ValueError, match="does not match the frozen"):
        I.ivf_ingest_delta(spark, root, emb, "b1")


def test_compaction_preserves_results(spark, emb, qvec, tmp_path):
    root = str(tmp_path / "ix")
    I.init_ivf_index(spark, root, emb)
    for i, part in enumerate(_thirds(emb)):
        I.ivf_ingest_delta(spark, root, part, f"b{i}")
    before = _topk(spark, root, qvec)
    cid = I.compact_ivf_batches(spark, root, ["b0", "b1"])
    assert _topk(spark, root, qvec) == before
    assert I.committed_ivf_batches(spark, root) == ["b2", cid]
    assert read_manifest(spark, root, cid)["cell_source"] == "assigned"
    with pytest.raises(BatchAlreadyIngested):
        I.ivf_ingest_delta(spark, root, _thirds(emb)[0], "b0")
    cid2 = I.compact_ivf_batches(spark, root)
    assert _topk(spark, root, qvec) == before
    assert I.committed_ivf_batches(spark, root) == [cid2]
    v = I.verify_ivf_index(spark, root)
    assert v["violations"] == [] and v["orphans"] == []


def test_delete_ivf_vectors_row_level(spark, emb, qvec, tmp_path):
    """Row-level takedown inside a compacted batch via the shared
    retain rewrite; deleted ids re-admittable; fsck stays clean."""
    root = str(tmp_path / "ix")
    I.init_ivf_index(spark, root, emb)
    first, second, third = _thirds(emb)
    for i, part in enumerate((first, second, third)):
        I.ivf_ingest_delta(spark, root, part, f"b{i}")
    I.compact_ivf_batches(spark, root, ["b0", "b1"])
    tid = int(first.filter("vec_id > 0")
              .agg(F.min("vec_id")).head()[0])
    cid = I.delete_ivf_vectors(spark, root, [tid])
    assert cid == "retain-000000"
    assert I.committed_ivf_batches(spark, root) == ["b2", cid]
    assert (I.read_ivf_postings(spark, root).count()
            == emb.count() - 1)
    assert read_manifest(spark, root, cid)["n_deleted"] == 1
    v = I.verify_ivf_index(spark, root)
    assert v["violations"] == [] and v["orphans"] == []
    # re-admittable through the id gate
    m = I.ivf_ingest_delta(spark, root,
                           emb.filter(F.col("vec_id") == tid),
                           "readd")
    assert m["n_id_dupes"] == 0 and m["n_admitted"] == 1
    # batch-level retention too
    I.delete_ivf_batch(spark, root, "readd")
    assert I.committed_ivf_batches(spark, root) == ["b2", cid]


def test_prune_uncommitted_sweeps_never_retried_crash(spark, emb,
                                                      tmp_path):
    root = str(tmp_path / "ix")
    I.init_ivf_index(spark, root, emb)
    first, second, _ = _thirds(emb)
    I.ivf_ingest_delta(spark, root, first, "b0")
    with pytest.raises(RuntimeError, match="injected crash"):
        I.ivf_ingest_delta(spark, root, second, "b1",
                           _crash_after=I.IVF_TABLE)
    assert I.verify_ivf_index(spark, root)["orphans"] == ["b1"]
    assert I.prune_ivf_uncommitted(spark, root) == ["b1"]
    v = I.verify_ivf_index(spark, root)
    assert v["orphans"] == [] and v["violations"] == []
    m = I.ivf_ingest_delta(spark, root, second, "b1")
    assert m["n_admitted"] == second.count()


def test_writer_lease_excludes_second_writer(spark, emb, tmp_path):
    root = str(tmp_path / "ix")
    I.init_ivf_index(spark, root, emb)
    from light_redistribution_in_3dptf_data_pipeline_spark.fs import write_text
    write_text(spark, f"{root}/_lock",
               '{"owner": "x", "op": "other", "pid": 1}')
    with pytest.raises(ConcurrentWriterError):
        I.ivf_ingest_delta(spark, root, emb, "b0")


def test_probe_scan_is_partition_pruned(spark, emb, qvec, tmp_path):
    """The plan pin: the probe prunes on BOTH partition levels —
    cell IN (nprobe literals) directory pruning, no growing batch
    IN-list — and stays a single TakeOrderedAndProject stage with no
    Exchange before it."""
    root = str(tmp_path / "ix")
    I.init_ivf_index(spark, root, emb)
    for i, part in enumerate(_thirds(emb)):
        I.ivf_ingest_delta(spark, root, part, f"b{i}")
    df = I.ivf_incremental_topk(spark, root, qvec, exclude_id=0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "cell" in m.group(1)
    assert "batch_id IN" not in m.group(1)
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan


# ------------------------------------------------------------- r10:
# per-row dimensionality guard (ADVICE r9 medium): a wrong-dim delta
# vector used to NULL-fold its centroid scores inside zip_with and
# deterministically land in the lowest cell id — stored, never
# probeable (NULL re-rank cosine), and invisible to verify_ivf_index
# because the placement re-derivation NULL-folds identically.

def _mixed_dim_delta(spark):
    return spark.createDataFrame(
        [(900001, [0.5] * 64), (900002, [0.5] * 63)],
        "vec_id LONG, embedding ARRAY<FLOAT>")


def test_ingest_rejects_wrong_dim_assigned_path(spark, emb,
                                                tmp_path):
    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root, emb)
    with pytest.raises(Exception, match="64-dim"):
        I.ivf_ingest_delta(spark, root, _mixed_dim_delta(spark),
                           "bad")
    # the failed ingest left nothing committed (manifest never lands)
    assert I.committed_ivf_batches(spark, root) == []


def test_ingest_rejects_wrong_dim_provided_cell_path(spark, emb,
                                                     tmp_path):
    """The provided-cell route bypasses _cell_scores, so the stored
    column itself carries the guard — the row would otherwise be
    stored with a NULL-cosine re-rank, unreachable by any probe."""
    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root, emb)
    bad = _mixed_dim_delta(spark).withColumn("label", F.lit(0))
    with pytest.raises(Exception, match="64-dim"):
        I.ivf_ingest_delta(spark, root, bad, "bad",
                           cell_col="label")
    assert I.committed_ivf_batches(spark, root) == []


def test_init_rejects_wrong_dim_training_rows(spark, tmp_path):
    """F.sum over element_at past the array end skips NULLs — a
    short training vector would silently corrupt the frozen csum."""
    root = str(tmp_path / "ivf")
    bad = spark.createDataFrame(
        [(1, [0.1] * 64, 0), (2, [0.1] * 62, 1)],
        "vec_id LONG, embedding ARRAY<FLOAT>, label LONG")
    with pytest.raises(Exception, match="64-dim"):
        I.init_ivf_index(spark, root, bad)


# ------------------------------------------------------------- r10:
# cell-skew canary + size-aware compaction (VERDICT r10 brief #6)

def test_skew_canary_and_size_aware_compaction(spark, emb, tmp_path):
    """A hot cell used to compact into n_files_per_cell files
    regardless of row count. With rows_per_file set, the hot cell
    splits into ~ceil(rows/target) balanced files while cold cells
    stay single-file — and the fsck's occupancy canary names the
    skew."""
    import glob

    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root, emb)
    known = sorted(
        int(r.cell) for r in
        spark.read.parquet(f"{root}/centroids").collect())
    hot, colds = known[0], known[1:4]
    # provided-cell ingest builds the skew deterministically: 90% of
    # rows in the hot cell, the rest spread over three cold cells
    cold_expr = F.element_at(
        F.array(*[F.lit(c) for c in colds]),
        (F.pmod(F.col("vec_id"), 3) + 1).cast("int"))
    skewed = emb.select(
        "vec_id", "embedding",
        F.when(F.pmod(F.col("vec_id"), 10) < 9, F.lit(hot))
        .otherwise(cold_expr).alias("c"))
    I.ivf_ingest_delta(spark, root, skewed, "d1", cell_col="c")

    rep = I.verify_ivf_index(spark, root)
    assert rep["violations"] == []
    occ = rep["cell_occupancy"]
    assert occ["hottest_cell"] == hot
    assert occ["n_cells_occupied"] == 4
    assert occ["max"] > 4 * occ["median"]   # the canary fires

    I.compact_ivf_batches(spark, root, rows_per_file=40)
    cid = I.committed_ivf_batches(spark, root)[0]
    hot_files = glob.glob(
        f"{root}/postings/batch_id={cid}/cell={hot}/*.parquet")
    cold_files = glob.glob(
        f"{root}/postings/batch_id={cid}/cell={colds[0]}/*.parquet")
    n_hot = occ["max"]
    assert len(hot_files) >= (n_hot + 39) // 40   # split by target
    assert len(cold_files) <= 2
    # every output file honors the row target
    for f in hot_files + cold_files:
        assert spark.read.parquet(f"file:{f}").count() <= 40
    # compaction preserved content + ledger (fsck still clean)
    rep2 = I.verify_ivf_index(spark, root)
    assert rep2["violations"] == []
    assert rep2["index_rows"] == rep["index_rows"]
    assert rep2["cell_occupancy"]["max"] == occ["max"]


def test_ivf_compaction_preserves_provenance(spark, emb, tmp_path):
    """_union_provenance on the IVF compactor (the ann-side twin is
    covered by the streaming test): folding batches with str and
    list corpus_batch values unions to a sorted list; a single
    distinct value stays a str."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.batches import (
        load_manifests, superseded)

    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root, emb)
    I.ivf_ingest_delta(spark, root,
                       emb.filter("vec_id < 200").drop("label"),
                       "d1", corpus_batch="c1")
    I.ivf_ingest_delta(spark, root,
                       emb.filter("vec_id >= 200").drop("label"),
                       "d2", corpus_batch=["c1", "c2"])
    I.compact_ivf_batches(spark, root)
    ms = load_manifests(spark, root)
    live = [b for b in ms if b not in superseded(ms)]
    assert len(live) == 1
    assert ms[live[0]]["corpus_batch"] == ["c1", "c2"]


def test_batch_topk_equals_per_query_probe(spark, emb, tmp_path):
    """ivf_batch_topk (r11): one distributed job over many queries
    must return, per query, EXACTLY the single-query incremental
    probe's rows — same executor-side cell ranking (identical
    exact-integer arithmetic folded to identical doubles), same
    rerank, same tie order."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.ivf_index import (
        init_ivf_index, ivf_batch_topk, ivf_incremental_topk,
        ivf_ingest_delta)

    root = str(tmp_path / "ivf")
    init_ivf_index(spark, root, emb)
    ivf_ingest_delta(spark, root,
                     emb.filter("vec_id < 300").drop("label"), "d1")
    ivf_ingest_delta(spark, root,
                     emb.filter("vec_id >= 300").drop("label"), "d2")

    qids = [0, 7, 33, 120, 301, 499]
    queries = (emb.filter(F.col("vec_id").isin(qids))
               .select(F.col("vec_id").alias("qid"), "embedding"))
    batch = ivf_batch_topk(spark, root, queries, k=10, nprobe=2)
    got = {}
    for r in batch.collect():
        got.setdefault(int(r.qid), []).append(
            (int(r.vec_id), float(r.cosine), int(r.cell)))

    for qid in qids:
        qvec = [float(x) for x in
                emb.filter(F.col("vec_id") == qid)
                .select("embedding").head()[0]]
        want = [(int(r.vec_id), float(r.cosine), int(r.cell))
                for r in ivf_incremental_topk(
                    spark, root, qvec, k=10, nprobe=2,
                    exclude_id=qid).collect()]
        assert got[qid] == want, qid


def test_batch_topk_chunked_equals_unchunked(spark, emb, tmp_path):
    """max_queries_per_job (r11 brief #6): a batch bigger than the
    broadcast budget degrades to a deterministic loop of
    broadcast-sized jobs — per-qid results are independent, so the
    chunked run must equal the unchunked one ROW-FOR-ROW, for both
    index families."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import ann_index as A
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.ivf_index import (
        init_ivf_index, ivf_batch_topk, ivf_ingest_delta)

    root = str(tmp_path / "ivf")
    init_ivf_index(spark, root, emb)
    ivf_ingest_delta(spark, root, emb.drop("label"), "d1")
    aroot = str(tmp_path / "ann")
    A.ann_ingest_delta(spark, aroot, emb, "d1")

    queries = (emb.filter("vec_id < 25")
               .select(F.col("vec_id").alias("qid"), "embedding"))

    def rows(df):
        return sorted((int(r.qid), int(r.vec_id), float(r.cosine))
                      for r in df.collect())

    want = rows(ivf_batch_topk(spark, root, queries, k=5, nprobe=2))
    got = rows(ivf_batch_topk(spark, root, queries, k=5, nprobe=2,
                              max_queries_per_job=7))
    assert got == want and len(want) == 25 * 5
    # a cap larger than the batch takes the single-job path
    assert rows(ivf_batch_topk(spark, root, queries, k=5, nprobe=2,
                               max_queries_per_job=100)) == want

    wa = rows(A.ann_batch_topk(spark, aroot, queries, k=5))
    ga = rows(A.ann_batch_topk(spark, aroot, queries, k=5,
                               max_queries_per_job=7))
    assert ga == wa and len(wa) == 25 * 5


def test_centroid_memo_mtime_window_tamper(spark, emb, qvec,
                                           tmp_path, monkeypatch):
    """r17 (VERDICT r16 #5): an out-of-band centroid rewrite that
    preserves file names, lengths AND the mtime tick slips the
    listing signature — while the newest mtime is inside the store's
    granularity window the memo must re-read + re-digest instead of
    trusting the hit (the fs.read_json_doc rule). Simulated by
    pinning the signature to its pre-tamper value."""
    root = str(tmp_path / "ix")
    I.init_ivf_index(spark, root, emb)
    I.ivf_ingest_delta(spark, root, emb, "b0")
    I.ivf_incremental_topk(spark, root, qvec).collect()   # memo fill
    assert root in I._CENTROIDS_CACHE
    sig, digest, cached_rows = I._CENTROIDS_CACHE[root]
    rows = (spark.read.parquet(f"{root}/{I.CENTROIDS_TABLE}")
            .select("cell", "csum", "nv").collect())
    tampered = spark.createDataFrame(
        [(int(r.cell), [int(s) for s in r.csum], int(r.nv) + 1)
         for r in rows], "cell BIGINT, csum ARRAY<BIGINT>, nv BIGINT")
    tampered.write.mode("overwrite").parquet(
        f"{root}/{I.CENTROIDS_TABLE}")
    # re-stamp the cached signature's mtimes to NOW (after the slow
    # tamper write, right before the probe): the state of a memo
    # whose table was written, cached, and rewritten within one
    # mtime tick — listing signature unchanged, bytes different
    import time as _time
    sig0 = tuple((n, int(_time.time() * 1000), ln)
                 for n, _m, ln in sig)
    I._CENTROIDS_CACHE[root] = (sig0, digest, cached_rows)
    monkeypatch.setattr(I, "_centroid_table_sig",
                        lambda *_a, **_k: sig0)
    with pytest.raises(ValueError, match="does not match the frozen"):
        I.ivf_incremental_topk(spark, root, qvec).collect()
