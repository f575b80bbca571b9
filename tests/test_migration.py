"""Index migration (plans/migration.py — VERDICT r10 brief #1): the
frozen-quantizer escape hatch. Quantizer drift is demonstrated on a
distribution-shifted delta (every shifted vector piles into ONE old
cell — the skew canary), the migration re-trains into a NEW root and
backfills by re-routing COMMITTED postings (never re-embedding),
counts are verified, the cutover is one atomic pointer PUT, a
crashed migration resumes by batch identity, and the old root stays
pinned-readable throughout."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from light_redistribution_in_3dptf_data_pipeline_spark.catalog import load_table
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ann_index as A)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ivf_index as I)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    migration as M)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    snapshots as SN)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def _shifted(emb, offset=10.0, id_offset=100_000):
    """A distribution-shifted delta: every component pushed far
    positive (the uniform +offset dominates the OLD quantizer's
    mean-dot routing, so nearly every row lands in the
    largest-mean cell — the drift skew), PLUS a per-group axis bump
    (+offset on component ``pmod(vec_id, 4)``) that gives the
    shifted population four separable directions a RE-TRAINED
    quantizer can split on. Labels 8..11 mark the four new
    clusters for the retrain sample."""
    g = F.pmod(F.col("vec_id"), 4)
    return emb.select(
        (F.col("vec_id") + id_offset).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: (x + offset
                          + F.when(i == g, offset)
                          .otherwise(F.lit(0.0))).cast("float"))
        .alias("embedding"),
        (g + 8).alias("label"))


def _topk(spark, root, qvec, **kw):
    return [(r.vec_id, r.cosine) for r in
            I.ivf_incremental_topk(spark, root, qvec, **kw)
            .collect()]


def test_ivf_migration_end_to_end(spark, emb, tmp_path):
    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    alias = str(tmp_path / "main_index.json")

    I.init_ivf_index(spark, old, emb)
    I.ivf_ingest_delta(spark, old,
                       emb.filter("vec_id % 2 = 0").drop("label"),
                       "d1", corpus_batch="c1")
    I.ivf_ingest_delta(spark, old,
                       emb.filter("vec_id % 2 = 1").drop("label"),
                       "d2", corpus_batch="c2")

    # the DRIFT: a shifted delta all routes to one old cell — the
    # exact decay the frozen contract cannot fix in place
    shifted = _shifted(emb)
    n_shift = shifted.count()
    I.ivf_ingest_delta(spark, old, shifted.drop("label"), "d3")
    occ_old = I.verify_ivf_index(spark, old)["cell_occupancy"]
    # one hot cell ate the strong majority of the delta (the +offset
    # shift boosts every cell score by offset·sum(centroid_mean), so
    # the largest-mean cells absorb nearly everything; measured:
    # ~344/500 in the hottest — the floor leaves margin for the
    # per-group axis bump)
    assert occ_old["max"] >= n_shift * 0.55

    # pin the old root FIRST: quoted results must survive the cutover
    pin = SN.pin_snapshot(spark, old, owner="eval")
    qvec = [float(x) for x in
            emb.filter("vec_id = 0").select("embedding").head()[0]]
    pinned_before = [
        (r.vec_id, r.cosine) for r in
        I.ivf_pinned_topk(spark, old, pin, qvec, exclude_id=0)
        .collect()]

    # re-train on a sample of the NEW distribution and migrate
    train2 = emb.unionByName(_shifted(emb))
    rep = M.migrate_index(spark, old, new, train=train2,
                          pointer=alias)
    assert rep["kind"] == "ivf_incremental"
    assert sorted(rep["batches_migrated"]) == [
        "migrate-d1", "migrate-d2", "migrate-d3"]
    assert rep["n_vectors"] == emb.count() + n_shift

    # new root: fsck clean, the shifted rows now SPREAD over cells
    fsck = I.verify_ivf_index(spark, new)
    assert fsck["violations"] == []
    assert fsck["index_rows"] == rep["n_vectors"]
    shifted_cells = (I.read_ivf_postings(spark, new)
                     .filter(F.col("vec_id") >= 100_000)
                     .select("cell").distinct().count())
    assert shifted_cells > 1

    # provenance survived the re-route
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.batches import (
        load_manifests)
    nms = load_manifests(spark, new)
    assert nms["migrate-d1"]["corpus_batch"] == "c1"

    # pointer cutover: readers resolve the alias to the NEW root,
    # a raw root resolves to itself, garbage is loud
    assert M.resolve_index_root(spark, alias) == new
    assert M.resolve_index_root(spark, old) == old
    with pytest.raises(ValueError, match="neither"):
        M.resolve_index_root(spark, str(tmp_path / "nope"))

    # the old root is untouched and the PIN replays bit-identically
    pinned_after = [
        (r.vec_id, r.cosine) for r in
        I.ivf_pinned_topk(spark, old, pin, qvec, exclude_id=0)
        .collect()]
    assert pinned_after == pinned_before
    assert I.verify_ivf_index(spark, old)["violations"] == []


def test_ivf_migration_resumes_after_crash(spark, emb, tmp_path,
                                           monkeypatch):
    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    I.init_ivf_index(spark, old, emb)
    I.ivf_ingest_delta(spark, old,
                       emb.filter("vec_id % 2 = 0").drop("label"),
                       "d1")
    I.ivf_ingest_delta(spark, old,
                       emb.filter("vec_id % 2 = 1").drop("label"),
                       "d2")

    real = I.ivf_ingest_delta
    calls = {"n": 0}

    def flaky(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected migration crash")
        return real(*args, **kwargs)

    monkeypatch.setattr(I, "ivf_ingest_delta", flaky)
    with pytest.raises(RuntimeError, match="injected migration"):
        M.migrate_index(spark, old, new, train=emb)
    monkeypatch.setattr(I, "ivf_ingest_delta", real)

    # crash window: one batch committed, the other absent — the new
    # root is simply a shorter committed view (manifest-last), and
    # the re-run SKIPS the committed batch and finishes the rest
    rep = M.migrate_index(spark, old, new, train=emb)
    assert rep["batches_skipped"] == ["migrate-d1"]
    assert rep["batches_migrated"] == ["migrate-d2"]
    assert rep["n_vectors"] == emb.count()
    assert I.verify_ivf_index(spark, new)["violations"] == []


def test_lsh_migration_rebuckets(spark, emb, tmp_path):
    """Hyperplane drift: migrate an LSH root to a different plane
    count — committed vectors are re-bucketed under the new planes
    (never re-embedded), and the incremental probe on the new root
    equals the probe over a fresh one-shot ingest of the same
    vectors under the same planes."""
    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    ref = str(tmp_path / "ref")
    alias = str(tmp_path / "ann.json")
    A.ann_ingest_delta(spark, old, emb.filter("vec_id < 120"), "d1")
    A.ann_ingest_delta(spark, old, emb.filter("vec_id >= 120"),
                       "d2", corpus_batch="c2")

    rep = M.migrate_index(spark, old, new, num_planes=4,
                          pointer=alias)
    assert rep["kind"] == "ann_lsh_incremental"
    assert rep["n_vectors"] == emb.count()
    meta = A._load_meta(spark, new)
    assert meta["num_planes"] == 4
    assert A.verify_ann_index(spark, new)["violations"] == []
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.batches import (
        load_manifests)
    assert load_manifests(spark, new)[
        "migrate-d2"]["corpus_batch"] == "c2"

    qvec = [float(x) for x in
            emb.filter("vec_id = 7").select("embedding").head()[0]]
    A.ann_ingest_delta(spark, ref, emb, "all", num_planes=4)
    # probing THROUGH the pointer: the alias is a first-class read
    # location after cutover
    got = [(r.vec_id, r.cosine) for r in
           A.ann_incremental_topk(spark, alias, qvec,
                                  exclude_id=7).collect()]
    want = [(r.vec_id, r.cosine) for r in
            A.ann_incremental_topk(spark, ref, qvec,
                                   exclude_id=7).collect()]
    assert got == want


def test_migration_requires_train_for_ivf(spark, emb, tmp_path):
    old = str(tmp_path / "old")
    I.init_ivf_index(spark, old, emb)
    I.ivf_ingest_delta(spark, old, emb.drop("label"), "d1")
    with pytest.raises(ValueError, match="train"):
        M.migrate_index(spark, old, str(tmp_path / "new"))


def test_stream_follows_pointer_after_cutover(spark, emb, tmp_path):
    """Operational continuity: a streaming vector loop fed through a
    POINTER keeps working across a migration cutover — the next
    drain resolves to the new root, mints that root's own checkpoint
    incarnation, re-reads are absorbed by the id-dedup gate, and new
    files are admitted to the NEW root while the old root stays
    untouched."""
    import glob
    import os
    import shutil as sh
    import tempfile

    from light_redistribution_in_3dptf_data_pipeline_spark.streaming import (
        vectors as V)

    def drop(df, src_dir, name):
        staging = tempfile.mkdtemp(prefix="mig_drop_")
        try:
            df.coalesce(1).write.mode("overwrite").parquet(staging)
            part = glob.glob(f"{staging}/part-*.parquet")[0]
            os.makedirs(src_dir, exist_ok=True)
            sh.copy(part, os.path.join(src_dir, f"{name}.parquet"))
        finally:
            sh.rmtree(staging, ignore_errors=True)

    src = str(tmp_path / "drop")
    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    alias = str(tmp_path / "index.json")

    # phase 1: stream into the (pointer-fronted) old root
    M.set_index_pointer(spark, alias, old)
    # the pointer must name an initialized root — initialize old
    # with a first manual ingest, then stream through the alias
    A.ann_ingest_delta(spark, old, emb.filter("vec_id < 50"), "seed")
    drop(emb.filter("vec_id >= 50 AND vec_id < 100")
         .select("vec_id", "embedding"), src, "f0")
    V.run_vector_ingestion(spark, src, alias).awaitTermination(120)
    assert (A.read_ann_index(spark, old).count()
            == emb.filter("vec_id < 100").count())

    # phase 2: migrate + cut over the SAME alias
    M.migrate_index(spark, old, new, num_planes=4, pointer=alias)
    n_old = A.read_ann_index(spark, old).count()

    # phase 3: a new drop lands through the alias in the NEW root.
    # The checkpoint keys off the ALIAS (ADVICE r10), so it SURVIVES
    # the cutover: f0 is never re-read (no n_admitted=0 replay
    # manifests spamming the new ledger), only f1 is drained
    drop(emb.filter("vec_id >= 100 AND vec_id < 130")
         .select("vec_id", "embedding"), src, "f1")
    V.run_vector_ingestion(spark, src, alias).awaitTermination(120)
    assert (A.read_ann_index(spark, new).count()
            == emb.filter("vec_id < 130").count())
    assert A.read_ann_index(spark, old).count() == n_old
    assert A.verify_ann_index(spark, new)["violations"] == []
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.batches import (
        load_manifests)
    streamed = {b: m for b, m in load_manifests(spark, new).items()
                if b.startswith("stream-")}
    assert len(streamed) == 1, streamed   # f1 only — no f0 replay
    assert all(m["n_admitted"] > 0 for m in streamed.values())


def test_migration_refuses_dirty_new_root(spark, emb, tmp_path):
    """r10 review: the pre-cutover check must compare the new
    root's LIVE batch set against the expected migrate-set — a
    reused root with foreign batches would otherwise serve
    duplicate (or alien) vectors after cutover."""
    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    A.ann_ingest_delta(spark, old, emb.filter("vec_id < 100"), "d1")
    # the "new" root already holds an unrelated committed batch
    A.ann_ingest_delta(spark, new, emb.filter("vec_id >= 100"),
                       "stray")
    with pytest.raises(RuntimeError, match="expected exactly"):
        M.migrate_index(spark, old, new)


def test_fsck_and_takedown_follow_pointer(spark, emb, tmp_path):
    """verify_deployment and takedown_documents accept the same
    pointer the probes use — after a cutover, operations against the
    alias land on the new root."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import corpus
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.linkage import (
        takedown_documents, verify_deployment)

    croot = str(tmp_path / "c")
    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    alias = str(tmp_path / "ix.json")
    docs = spark.createDataFrame(
        [(int(i), " ".join(f"m{i}w{j}k{(i * 5 + j) % 71}"
                           for j in range(14)), "en", "s", 1)
         for i in range(1, 21)],
        "doc_id LONG, text STRING, lang STRING, "
        "source STRING, n_chars LONG")
    got = corpus.ingest_delta(spark, croot, docs, "d1")
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    A.ann_ingest_delta(spark, old,
                       emb.filter(F.col("vec_id").isin(ids)), "v1",
                       corpus_batch="d1")
    M.migrate_index(spark, old, new, pointer=alias)

    rep = verify_deployment(spark, croot, [alias])
    assert rep["violations"] == []
    assert new in rep["roots"]          # resolved, not the alias

    takedown_documents(spark, croot, [alias], [ids[0]])
    rep = verify_deployment(spark, croot, [alias])
    assert rep["violations"] == []      # both sides cleaned via alias


def _docs(spark, ids):
    # disjoint vocabularies so every gate admits (test_snapshots.py)
    return spark.createDataFrame(
        [(int(i), " ".join(f"c{i}y{j}r{(i * 11 + j * 3) % 499}"
                           for j in range(14)), "en", "s", 1)
         for i in ids],
        "doc_id LONG, text STRING, lang STRING, "
        "source STRING, n_chars LONG")


def test_corpus_pointer_reshard_cutover(spark, tmp_path):
    """Corpus-root pointer (VERDICT r10 brief #4): a re-partitioned
    copy is built beside the live root, the pointer flips in one
    PUT, readers/writers/fscks follow the alias, and the OLD root
    stays pin-readable bit-identically."""
    import glob

    from light_redistribution_in_3dptf_data_pipeline_spark.plans import corpus
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        snapshots as S2)

    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    alias = str(tmp_path / "corpus.json")
    corpus.ingest_delta(spark, old, _docs(spark, range(1, 31)), "d1")
    corpus.ingest_delta(spark, old, _docs(spark, range(31, 61)), "d2")
    before = sorted(r.doc_id for r in
                    corpus.read_corpus(spark, old).collect())

    # pin the old root FIRST: quoted training sets must survive
    pin = S2.pin_snapshot(spark, old, owner="eval")
    pinned_before = sorted(
        r.doc_id for r in
        S2.read_corpus_pinned(spark, old, pin).collect())

    rep = M.migrate_corpus(spark, old, new, partitions_per_batch=3,
                           pointer=alias)
    assert rep["batches_copied"] == ["d1", "d2"]
    assert rep["fsck"]["violations"] == []
    # identity transferred verbatim: the same pin digest would be
    # minted over the new root's (copied) manifests
    assert (S2.pin_snapshot(spark, new)["snapshot_digest"]
            == pin["snapshot_digest"])
    S2.release_pin(spark, new, pin["snapshot_digest"])

    # readers resolve the alias to the new root; content identical
    assert M.resolve_corpus_root(spark, alias) == new
    assert sorted(r.doc_id for r in
                  corpus.read_corpus(spark, alias).collect()) == before
    # the re-shard actually re-laid the files out
    assert len(glob.glob(f"{new}/corpus/batch_id=d1/*.parquet")) == 3
    assert corpus.verify_corpus(spark, alias)["violations"] == []

    # writers follow the alias too: a post-cutover ingest lands in
    # the NEW root; the old root never moves
    corpus.ingest_delta(spark, alias, _docs(spark, range(61, 71)),
                        "d3")
    assert corpus.committed_batches(spark, new) == ["d1", "d2", "d3"]
    assert corpus.committed_batches(spark, old) == ["d1", "d2"]

    # old root stays pin-readable bit-identically, even after the
    # new root compacts and prunes
    corpus.compact_batches(spark, new)
    assert sorted(
        r.doc_id for r in
        S2.read_corpus_pinned(spark, old, pin).collect()
    ) == pinned_before


def test_migrate_corpus_refuses_dirty_new_root(spark, tmp_path):
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import corpus

    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    corpus.ingest_delta(spark, old, _docs(spark, range(1, 11)), "d1")
    corpus.ingest_delta(spark, new, _docs(spark, range(50, 60)),
                        "stray")
    with pytest.raises(RuntimeError, match="stray"):
        M.migrate_corpus(spark, old, new)


def test_migrate_corpus_resumes_by_identity(spark, tmp_path):
    """A re-run after a partial copy skips committed batches and
    completes the rest — same resume story as the index migration."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import corpus

    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    corpus.ingest_delta(spark, old, _docs(spark, range(1, 11)), "d1")
    corpus.ingest_delta(spark, old, _docs(spark, range(11, 21)), "d2")
    partial = M.migrate_corpus(spark, old, new)
    assert partial["batches_copied"] == ["d1", "d2"]
    # a re-run (the post-crash retry shape) no-ops by batch identity
    rerun = M.migrate_corpus(spark, old, new)
    assert rerun["batches_copied"] == []
    assert rerun["batches_skipped"] == ["d1", "d2"]
    assert rerun["fsck"]["violations"] == []


def test_corpus_takedown_through_pointer(spark, tmp_path):
    """takedown_documents aimed at the corpus ALIAS lands on the
    post-cutover root."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import corpus
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.linkage import (
        takedown_documents)

    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    alias = str(tmp_path / "corpus.json")
    got = corpus.ingest_delta(spark, old, _docs(spark, range(1, 11)),
                              "d1")
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    M.migrate_corpus(spark, old, new, pointer=alias)
    takedown_documents(spark, alias, [], [ids[0]])
    left = {r.doc_id for r in corpus.read_corpus(spark, new).collect()}
    assert ids[0] not in left
    assert len(left) == len(ids) - 1
    # the OLD root still holds the doc — per-root retention is the
    # operator's cleanup of a decommissioned root, not the alias's
    assert ids[0] in {r.doc_id for r in
                      corpus.read_corpus(spark, old).collect()}


def test_migration_coalesces_small_batches(spark, emb, tmp_path,
                                           monkeypatch):
    """Backfill coalescing (VERDICT r10 brief #5): 6 small old
    batches fold into ceil(6/4)=2 migrate commits whose manifests
    record the folded ids + unioned provenance, the count/fsck gates
    still hold, and a crash mid-migration resumes by CHUNK identity
    under the same N."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.batches import (
        load_manifests)

    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    for i in range(6):
        A.ann_ingest_delta(
            spark, old,
            emb.filter(f"vec_id >= {i * 40} AND vec_id < {i * 40 + 40}"),
            f"b{i}", corpus_batch=f"c{i}")

    real = A.ann_ingest_delta
    calls = {"n": 0}

    def flaky(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected coalesced-migration crash")
        return real(*args, **kwargs)

    monkeypatch.setattr(A, "ann_ingest_delta", flaky)
    with pytest.raises(RuntimeError, match="injected coalesced"):
        M.migrate_index(spark, old, new, num_planes=4,
                        max_batches_per_commit=4)
    monkeypatch.setattr(A, "ann_ingest_delta", real)

    rep = M.migrate_index(spark, old, new, num_planes=4,
                          max_batches_per_commit=4)
    assert rep["batches_skipped"] == ["migrate-b0--b3"]
    assert rep["batches_migrated"] == ["migrate-b4--b5"]
    assert rep["n_vectors"] == 240

    nms = load_manifests(spark, new)
    assert sorted(nms) == ["migrate-b0--b3", "migrate-b4--b5"]
    assert nms["migrate-b0--b3"]["migrated_batches"] == [
        "b0", "b1", "b2", "b3"]
    assert sorted(nms["migrate-b0--b3"]["corpus_batch"]) == [
        "c0", "c1", "c2", "c3"]
    assert A.verify_ann_index(spark, new)["violations"] == []
    # a resume under a DIFFERENT N cannot silently double-migrate
    with pytest.raises(RuntimeError, match="expected exactly"):
        M.migrate_index(spark, old, new, num_planes=4)


def test_pointer_handle_caches_resolution(spark, emb, tmp_path):
    """Probe-side alias cache (VERDICT r10 brief #7): one FS
    resolution serves N probes; a cutover is invisible inside the
    TTL window and picked up after it lapses (or on refresh())."""
    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    alias = str(tmp_path / "ix.json")
    A.ann_ingest_delta(spark, old, emb.filter("vec_id < 100"), "d1")
    M.set_index_pointer(spark, alias, old)
    qvec = [float(x) for x in
            emb.filter("vec_id = 0").select("embedding").head()[0]]

    clock = {"t": 0.0}
    h = M.IndexPointerHandle(spark, alias, ttl_seconds=60.0,
                             clock=lambda: clock["t"])
    r1 = A.ann_incremental_topk(spark, h, qvec, k=3).collect()
    r2 = A.ann_incremental_topk(spark, h, qvec, k=3).collect()
    assert [r.vec_id for r in r1] == [r.vec_id for r in r2]
    assert h.n_resolutions == 1          # one resolution, two probes

    # cutover lands; inside the TTL the handle still serves old
    M.migrate_index(spark, old, new, pointer=alias)
    clock["t"] = 30.0
    assert h.root() == old and h.n_resolutions == 1
    # ... and is picked up once the TTL lapses
    clock["t"] = 61.0
    assert h.root() == new and h.n_resolutions == 2
    r3 = A.ann_incremental_topk(spark, h, qvec, k=3).collect()
    assert [r.vec_id for r in r3] == [r.vec_id for r in r1]

    # refresh() is the explicit pickup: flip back, no clock advance
    M.set_index_pointer(spark, alias, old)
    assert h.root() == new               # cached
    assert h.refresh() == old and h.n_resolutions == 3


def test_pointer_at_fresh_root_targets_named_root(spark, emb,
                                                  tmp_path):
    """strict=False resolution of a well-formed pointer at a
    NOT-YET-INITIALIZED root returns the NAMED root (r11): a stream
    aimed at the alias from day one builds the index there — never
    at the pointer file's own path."""
    import os

    from light_redistribution_in_3dptf_data_pipeline_spark.streaming import (
        vectors as V)

    src = str(tmp_path / "drop")
    root = str(tmp_path / "fresh_root")
    alias = str(tmp_path / "ix.json")
    M.set_index_pointer(spark, alias, root)   # root does not exist
    assert M.resolve_index_root(spark, alias, strict=False) == root
    with pytest.raises(ValueError, match="not an initialized"):
        M.resolve_index_root(spark, alias)    # strict read: loud

    (emb.filter("vec_id < 40").coalesce(1)
     .write.mode("overwrite").parquet(str(tmp_path / "stage")))
    import glob
    import shutil as sh
    os.makedirs(src, exist_ok=True)
    sh.copy(glob.glob(str(tmp_path / "stage" / "part-*.parquet"))[0],
            os.path.join(src, "f0.parquet"))
    V.run_vector_ingestion(spark, src, alias).awaitTermination(120)

    assert A.read_ann_index(spark, root).count() == 40
    assert A.verify_ann_index(spark, root)["violations"] == []
    assert not os.path.isdir(alias)           # alias stayed a file
    assert os.path.isdir(f"{alias}_stream_checkpoint")
    # corpus analog: ingest through a pointer at a fresh corpus root
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import corpus
    croot = str(tmp_path / "fresh_corpus")
    calias = str(tmp_path / "c.json")
    M.set_corpus_pointer(spark, calias, croot)
    corpus.ingest_delta(spark, calias, _docs(spark, range(1, 6)),
                        "d1")
    assert corpus.committed_batches(spark, croot) == ["d1"]
    assert not os.path.isdir(calias)


def test_manifest_extra_refuses_protocol_keys(spark, emb, tmp_path):
    """The coalesced-migration metadata seam must never override a
    commit-protocol field."""
    with pytest.raises(ValueError, match="protocol keys"):
        A.ann_ingest_delta(spark, str(tmp_path / "ix"),
                           emb.filter("vec_id < 10"), "d1",
                           manifest_extra={"n_admitted": 999})
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        ivf_index as IVF)
    root = str(tmp_path / "ivf")
    IVF.init_ivf_index(spark, root, emb)
    with pytest.raises(ValueError, match="protocol keys"):
        IVF.ivf_ingest_delta(spark, root,
                             emb.filter("vec_id < 10").drop("label"),
                             "d1", manifest_extra={"replaces": ["x"]})


def test_resume_keeps_new_roots_storage(spark, emb, tmp_path,
                                        monkeypatch):
    """ADVICE r12: resuming an interrupted float→int8 migration
    WITHOUT re-passing storage= must read the new root's own
    ``_meta.json`` as the layout authority — not fall back to the
    old root's float layout (the ingest's mix-layouts guard made
    that loud but avoidable). An explicitly conflicting storage= on
    resume raises up front."""
    # --- LSH: crash after the first migrate batch committed int8
    old = str(tmp_path / "ann_old")
    new = str(tmp_path / "ann_new")
    A.ann_ingest_delta(spark, old, emb.filter("vec_id < 100"), "d1")
    A.ann_ingest_delta(spark, old,
                       emb.filter("vec_id >= 100 and vec_id < 200"),
                       "d2")
    real = A.ann_ingest_delta
    calls = {"n": 0}

    def flaky(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected migration crash")
        return real(*args, **kwargs)

    monkeypatch.setattr(A, "ann_ingest_delta", flaky)
    with pytest.raises(RuntimeError, match="injected migration"):
        M.migrate_index(spark, old, new, storage="int8")
    monkeypatch.setattr(A, "ann_ingest_delta", real)

    # conflicting explicit storage on resume: loud, before any ingest
    with pytest.raises(ValueError, match="mix layouts"):
        M.migrate_index(spark, old, new, storage="float")
    # resume WITHOUT storage=: the new root's int8 meta wins
    rep = M.migrate_index(spark, old, new)
    assert rep["batches_skipped"] == ["migrate-d1"]
    assert rep["batches_migrated"] == ["migrate-d2"]
    fsck = A.verify_ann_index(spark, new)
    assert fsck["storage"] == "int8" and fsck["violations"] == []

    # --- IVF: interruption right after the int8 init froze the meta
    iold = str(tmp_path / "ivf_old")
    inew = str(tmp_path / "ivf_new")
    I.init_ivf_index(spark, iold, emb)
    I.ivf_ingest_delta(spark, iold, emb.drop("label"), "d1")
    I.init_ivf_index(spark, inew, emb.drop("label"), train_k=8,
                     storage="int8")
    rep = M.migrate_index(spark, iold, inew)   # no train args needed
    assert rep["batches_migrated"] == ["migrate-d1"]
    ifsck = I.verify_ivf_index(spark, inew)
    assert ifsck["storage"] == "int8" and ifsck["violations"] == []
