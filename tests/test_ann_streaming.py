"""Streaming vector ingestion into the incremental ANN index
(streaming/vectors.py) plus the ANN fsck (verify_ann_index): drain
semantics, cross-drain id dedup, lost-checkpoint recovery, and
violation detection."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from light_redistribution_in_3dptf_data_pipeline_spark.catalog import load_table
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ann_index as A)
from light_redistribution_in_3dptf_data_pipeline_spark.streaming import (
    vectors as V)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<float>")
        .alias("embedding"))


def _drop(emb, pred, src_dir, name):
    """Land one parquet FILE in the drop directory (the file-stream
    source lists files, not nested dataset directories)."""
    import glob
    import os
    import shutil as sh
    import tempfile

    staging = tempfile.mkdtemp(prefix="vecdrop_")
    try:
        (emb.filter(pred).coalesce(1)
         .write.mode("overwrite").parquet(staging))
        part = glob.glob(f"{staging}/part-*.parquet")[0]
        os.makedirs(src_dir, exist_ok=True)
        sh.copy(part, os.path.join(src_dir, f"{name}.parquet"))
    finally:
        sh.rmtree(staging, ignore_errors=True)


def test_stream_drains_into_index(spark, emb, tmp_path):
    src = str(tmp_path / "drop")
    root = str(tmp_path / "ix")
    _drop(emb, F.col("vec_id") < 100, src, "f0")
    V.run_vector_ingestion(spark, src, root).awaitTermination(120)
    got = A.read_ann_index(spark, root)
    assert got.count() == emb.filter("vec_id < 100").count()
    # second drain: only the NEW file's vectors are processed
    _drop(emb, (F.col("vec_id") >= 100) & (F.col("vec_id") < 150),
          src, "f1")
    V.run_vector_ingestion(spark, src, root).awaitTermination(120)
    assert (A.read_ann_index(spark, root).count()
            == emb.filter("vec_id < 150").count())
    rep = A.verify_ann_index(spark, root)
    assert rep["violations"] == [] and rep["orphans"] == []


def test_lost_checkpoint_new_files_still_admitted(spark, emb,
                                                  tmp_path):
    """The r7 hazard, vector edition: checkpoint lost, a NEW file
    lands, the restarted stream's epoch 0 re-lists everything — the
    fresh nonce gives it a fresh batch id and the id-dedup gate (not
    id collision) suppresses the re-read vectors while the new file's
    vectors are admitted exactly once."""
    src = str(tmp_path / "drop")
    root = str(tmp_path / "ix")
    _drop(emb, F.col("vec_id") < 80, src, "f0")
    V.run_vector_ingestion(spark, src, root).awaitTermination(120)
    n0 = A.read_ann_index(spark, root).count()
    assert n0 == emb.filter("vec_id < 80").count()

    shutil.rmtree(f"{root}/_stream_checkpoint")
    _drop(emb, (F.col("vec_id") >= 80) & (F.col("vec_id") < 120),
          src, "f1")
    V.run_vector_ingestion(spark, src, root).awaitTermination(120)
    got = A.read_ann_index(spark, root)
    assert got.count() == emb.filter("vec_id < 120").count()
    assert (got.select("vec_id").distinct().count()
            == emb.filter("vec_id < 120").count())
    assert A.verify_ann_index(spark, root)["violations"] == []


def test_stream_drains_into_ivf_index(spark, emb, tmp_path):
    """Kind dispatch: the same drop-directory stream drains into an
    IVF root (quantizer frozen beforehand by init_ivf_index) through
    ivf_ingest_delta — batches are placed by the frozen quantizer
    (cell_source=assigned), cross-drain id dedup holds, and the IVF
    fsck stays clean."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        ivf_index as I)
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.corpus import (
        read_manifest)

    src = str(tmp_path / "drop")
    root = str(tmp_path / "ivf")
    train = load_table(spark, SF_DIR, "embeddings")
    I.init_ivf_index(spark, root, train)

    _drop(emb, F.col("vec_id") < 100, src, "f0")
    V.run_vector_ingestion(spark, src, root).awaitTermination(120)
    assert (I.read_ivf_postings(spark, root).count()
            == emb.filter("vec_id < 100").count())
    (bid,) = I.committed_ivf_batches(spark, root)
    assert read_manifest(spark, root, bid)["cell_source"] == "assigned"

    # second drain: only the NEW file's vectors are processed
    _drop(emb, (F.col("vec_id") >= 100) & (F.col("vec_id") < 150),
          src, "f1")
    V.run_vector_ingestion(spark, src, root).awaitTermination(120)
    got = I.read_ivf_postings(spark, root)
    assert got.count() == emb.filter("vec_id < 150").count()
    assert (got.select("vec_id").distinct().count()
            == emb.filter("vec_id < 150").count())
    rep = I.verify_ivf_index(spark, root)
    assert rep["violations"] == [] and rep["orphans"] == []


def test_ivf_stream_lost_checkpoint_recovers(spark, emb, tmp_path):
    """The r7 hazard on the IVF route: checkpoint lost + a NEW file —
    the fresh incarnation nonce re-reads everything under a fresh
    batch id, the id-dedup gate absorbs the replays, and the new
    file's vectors are admitted exactly once."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        ivf_index as I)

    src = str(tmp_path / "drop")
    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root,
                     load_table(spark, SF_DIR, "embeddings"))
    _drop(emb, F.col("vec_id") < 80, src, "f0")
    V.run_vector_ingestion(spark, src, root).awaitTermination(120)
    assert (I.read_ivf_postings(spark, root).count()
            == emb.filter("vec_id < 80").count())

    shutil.rmtree(f"{root}/_stream_checkpoint")
    _drop(emb, (F.col("vec_id") >= 80) & (F.col("vec_id") < 120),
          src, "f1")
    V.run_vector_ingestion(spark, src, root).awaitTermination(120)
    got = I.read_ivf_postings(spark, root)
    assert got.count() == emb.filter("vec_id < 120").count()
    assert (got.select("vec_id").distinct().count()
            == emb.filter("vec_id < 120").count())
    rep = I.verify_ivf_index(spark, root)
    assert rep["violations"] == [] and rep["orphans"] == []


def test_stream_rejects_lsh_params_on_ivf_root(spark, emb, tmp_path):
    """num_planes is an LSH knob; passing it for an IVF root must
    fail the micro-batch loudly instead of being silently ignored."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        ivf_index as I)

    src = str(tmp_path / "drop")
    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root,
                     load_table(spark, SF_DIR, "embeddings"))
    _drop(emb, F.col("vec_id") < 20, src, "f0")
    with pytest.raises(Exception, match="LSH parameter"):
        (V.run_vector_ingestion(spark, src, root, num_planes=8)
         .awaitTermination(120))
    assert I.read_ivf_postings(spark, root).count() == 0


def test_fsck_detects_tampering(spark, emb, tmp_path):
    root = str(tmp_path / "ix")
    A.ann_ingest_delta(spark, root,
                       emb.filter("vec_id < 100"), "b0")
    rep = A.verify_ann_index(spark, root)
    assert rep["violations"] == [] and rep["index_rows"] == 100

    # ledger violation: delete one bucket directory out-of-band
    import glob
    import shutil as sh

    victim = sorted(glob.glob(f"{root}/{A.ANN_TABLE}/batch_id=b0/"
                              f"bucket=*"))[0]
    sh.rmtree(victim)
    rep = A.verify_ann_index(spark, root)
    assert any(v.startswith("ledger:") for v in rep["violations"])

    # bucketing violation: move a bucket directory to a wrong bucket
    dirs = sorted(glob.glob(f"{root}/{A.ANN_TABLE}/batch_id=b0/"
                            f"bucket=*"))
    taken = {int(d.rsplit("=", 1)[1]) for d in dirs}
    free = next(b for b in range(256) if b not in taken)
    sh.move(dirs[0], f"{root}/{A.ANN_TABLE}/batch_id=b0/bucket={free}")
    rep = A.verify_ann_index(spark, root)
    assert any(v.startswith("bucketing:") for v in rep["violations"])


def test_fsck_missing_table_and_orphans(spark, emb, tmp_path):
    root = str(tmp_path / "ix")
    A.ann_ingest_delta(spark, root, emb.filter("vec_id < 50"), "b0")
    # orphan: a crashed ingest's unmanifested partition
    with pytest.raises(RuntimeError, match="injected crash"):
        A.ann_ingest_delta(spark, root,
                           emb.filter("vec_id >= 50"), "b1",
                           _crash_after=A.ANN_TABLE)
    rep = A.verify_ann_index(spark, root)
    assert rep["orphans"] == ["b1"] and rep["violations"] == []

    # missing data directory under a live manifest = per-batch
    # violation, not a silent clean pass
    import shutil as sh

    sh.rmtree(f"{root}/{A.ANN_TABLE}")
    rep = A.verify_ann_index(spark, root)
    assert any("missing" in v for v in rep["violations"])


def test_stream_auto_wires_corpus_provenance(spark, emb, tmp_path):
    """VERDICT r10 #5 done-test: stream documents into the corpus,
    stream their embeddings (drop files stamped with the corpus
    batch they embed), and verify_linked reports ZERO
    stale_provenance — with no manual corpus_batch argument
    anywhere. A drop spanning several corpus batches records them
    all (list form)."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        corpus)
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.batches import (
        load_manifests, superseded)
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.linkage import (
        verify_linked)
    from light_redistribution_in_3dptf_data_pipeline_spark.streaming.ingestion import (
        run_ingestion_with_dedup)

    # 1. stream documents into the corpus (two drops → two batches)
    doc_src = str(tmp_path / "docs")
    croot = str(tmp_path / "corpus")
    import os
    os.makedirs(doc_src, exist_ok=True)
    docs = spark.createDataFrame(
        [(int(i), " ".join(f"w{i}x{j}h{(i * 11 + j * 3) % 83}"
                           for j in range(14)), "en", "s", 1)
         for i in range(40)],
        "doc_id LONG, text STRING, lang STRING, "
        "source STRING, n_chars LONG")
    with open(f"{doc_src}/a.jsonl", "w") as f:
        for r in docs.filter("doc_id < 20").toJSON().collect():
            f.write(r + "\n")
    run_ingestion_with_dedup(spark, doc_src, croot) \
        .awaitTermination(120)
    with open(f"{doc_src}/b.jsonl", "w") as f:
        for r in docs.filter("doc_id >= 20").toJSON().collect():
            f.write(r + "\n")
    run_ingestion_with_dedup(spark, doc_src, croot) \
        .awaitTermination(120)
    cms = load_manifests(spark, croot)
    cbatches = sorted(b for b in cms if b not in superseded(cms))
    assert len(cbatches) == 2

    # 2. the embedding producer reads the committed corpus and
    # stamps each vector with the corpus batch it embeds
    stamped = (corpus.read_corpus(spark, croot)
               .select(F.col("doc_id").alias("vec_id"),
                       F.col("batch_id").alias("corpus_batch"))
               .join(emb, "vec_id"))
    vec_src = str(tmp_path / "vecs")
    iroot = str(tmp_path / "ix")
    _drop(stamped.select("vec_id", "embedding", "corpus_batch"),
          F.lit(True), vec_src, "e0")
    V.run_vector_ingestion(spark, vec_src, iroot) \
        .awaitTermination(120)

    # 3. provenance landed WITHOUT any manual argument: the vector
    # manifest records both corpus batches, and the cross-root fsck
    # is clean
    vms = load_manifests(spark, iroot)
    live = [b for b in vms if b not in superseded(vms)]
    assert len(live) == 1
    assert sorted(vms[live[0]]["corpus_batch"]) == cbatches

    rep = verify_linked(spark, croot, iroot)
    assert rep["stale_provenance"] == []
    assert rep["violations"] == []

    # 4. compaction PRESERVES the lineage (r10: _union_provenance)
    A.ann_ingest_delta(spark, iroot,
                       emb.filter("vec_id >= 900000"), "manual",
                       corpus_batch=cbatches[0])
    A.compact_ann_batches(spark, iroot)
    vms = load_manifests(spark, iroot)
    live = [b for b in vms if b not in superseded(vms)]
    assert len(live) == 1
    assert sorted(vms[live[0]]["corpus_batch"]) == cbatches


def test_streaming_recall_canary_names_drift(spark, tmp_path):
    """Streaming recall canary (VERDICT r10 brief #8 stretch): every
    Nth drain appends a measured recall@10 sample to the root's
    ``_metrics/recall/``; an injected drift — a diagonal cluster the
    frozen quantizer splits across 3 cells, so nprobe=2 structurally
    misses a third of every drifted query's true neighbors — drives
    the canary below the floor IN OPERATION, and recall_history
    names the offending batch. Measured: healthy 1.0, post-drift
    0.675 (deterministic fixtures end to end)."""
    from light_redistribution_in_3dptf_data_pipeline_spark.catalog import (
        load_table)
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        ivf_index as I)
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        recall as R)

    base = load_table(spark, SF_DIR, "embeddings")
    # healthy population: 8 separable clusters, ids up at 1000+
    cl = (R.clustered_embeddings(base)
          .select((F.col("vec_id") + 1000).alias("vec_id"),
                  "embedding"))
    # drift: ids 0..99 (the canary's deterministic smallest-id query
    # sample will BE these after the drift batch) on a diagonal the
    # trained quantizer has no cell for
    drift = base.filter("vec_id < 100").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x, i: (x * 0.3
                          + F.when(i.isin([1, 3, 5, 7]), 5.0)
                          .otherwise(F.lit(0.0))).cast("float"))
        .alias("embedding"))

    src = str(tmp_path / "drop")
    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root, cl, train_k=8)

    _drop(cl, "true", src, "f0")
    V.run_vector_ingestion(
        spark, src, root, recall_every_n_batches=1,
        recall_floor=0.9).awaitTermination(120)
    hist = R.recall_history(spark, root)
    assert len(hist["samples"]) == 1
    assert hist["samples"][0]["recall"] >= 0.9
    assert hist["below_floor"] == []

    _drop(drift, "true", src, "f1")
    V.run_vector_ingestion(
        spark, src, root, recall_every_n_batches=1,
        recall_floor=0.9).awaitTermination(120)
    hist = R.recall_history(spark, root)
    assert len(hist["samples"]) == 2
    assert hist["below_floor"] == [hist["samples"][1]["batch_id"]]
    assert hist["samples"][1]["recall"] < 0.9
    assert hist["samples"][1]["below_floor"] is True
    # a re-graded floor applies uniformly
    assert R.recall_history(spark, root, floor=0.1)["below_floor"] \
        == []


def test_canary_failure_never_poisons_ingest(spark, emb, tmp_path,
                                             monkeypatch):
    """ADVICE r11: the recall canary runs AFTER the commit; if it
    throws (transient FS error, probe failure) the epoch must still
    SUCCEED — a canary error that failed the epoch would abort the
    availableNow run, and the replay path would then skip the sample
    forever while looking committed. Inject a canary crash and assert
    the ingest committed anyway (and the next drain proceeds)."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import recall as R

    def boom(*a, **kw):
        raise RuntimeError("injected canary failure")

    monkeypatch.setattr(R, "record_recall_sample", boom)
    src = str(tmp_path / "drop")
    root = str(tmp_path / "ix")
    _drop(emb, F.col("vec_id") < 60, src, "f0")
    with pytest.warns(RuntimeWarning, match="recall canary failed"):
        V.run_vector_ingestion(
            spark, src, root, recall_every_n_batches=1,
            recall_floor=0.9).awaitTermination(120)
    # the commit landed despite the canary crash...
    assert (A.read_ann_index(spark, root).count()
            == emb.filter("vec_id < 60").count())
    assert A.verify_ann_index(spark, root)["violations"] == []
    # ...no sample was recorded (it failed), and the next drain works
    monkeypatch.undo()
    _drop(emb, (F.col("vec_id") >= 60) & (F.col("vec_id") < 90),
          src, "f1")
    V.run_vector_ingestion(spark, src, root,
                           recall_every_n_batches=1
                           ).awaitTermination(120)
    assert (A.read_ann_index(spark, root).count()
            == emb.filter("vec_id < 90").count())


def test_pointer_stream_reuses_legacy_inroot_checkpoint(spark, emb,
                                                        tmp_path):
    """ADVICE r11: a stream that historically ran against the ROOT
    (in-root checkpoint) and is upgraded to run against a POINTER
    must keep its source progress — the alias-sibling checkpoint
    location would otherwise re-read the whole drop directory and
    spam one n_admitted=0 replay manifest per historical
    micro-batch."""
    import os

    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        migration as M)
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.batches import (
        load_manifests)

    src = str(tmp_path / "drop")
    root = str(tmp_path / "ix")
    alias = str(tmp_path / "ix.json")
    # historical runs straight at the root → in-root checkpoint
    _drop(emb, F.col("vec_id") < 70, src, "f0")
    V.run_vector_ingestion(spark, src, root).awaitTermination(120)
    assert os.path.isdir(f"{root}/_stream_checkpoint")
    n_manifests_before = len(load_manifests(spark, root))

    # upgrade: same stream now aimed through a pointer; one NEW file
    M.set_index_pointer(spark, alias, root)
    _drop(emb, (F.col("vec_id") >= 70) & (F.col("vec_id") < 100),
          src, "f1")
    V.run_vector_ingestion(spark, src, alias).awaitTermination(120)

    # progress preserved: exactly ONE new manifest (the new file),
    # no n_admitted=0 replay spam, no abandoned-progress sibling
    ms = load_manifests(spark, root)
    assert len(ms) == n_manifests_before + 1
    assert all(m["n_admitted"] > 0 for m in ms.values()), ms
    assert not os.path.isdir(f"{alias}_stream_checkpoint")
    assert (A.read_ann_index(spark, root).count()
            == emb.filter("vec_id < 100").count())
