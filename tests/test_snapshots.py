"""Snapshot pins (plans/snapshots.py): reproducible pinned reads
that survive compaction, content-addressed idempotent pinning,
release+prune reclamation, the takedown-wins-over-pins policy on
both the corpus and the vector side, and pin fsck (missing data /
manifests / digest drift)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from light_redistribution_in_3dptf_data_pipeline_spark.catalog import load_table
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ann_index as A)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    snapshots as SN)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import batches, corpus

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, ids):
    # pairwise-disjoint vocabularies so the simhash gate admits all
    return spark.createDataFrame(
        [(int(i), " ".join(f"p{i}x{j}q{(i * 7 + j * 13) % 997}"
                           for j in range(14)), "en", "s", 1)
         for i in ids],
        "doc_id LONG, text STRING, lang STRING, "
        "source STRING, n_chars LONG")


def _rows(df):
    return sorted((r.doc_id, r.text) for r in
                  df.select("doc_id", "text").collect())


def test_pin_survives_compaction(spark, tmp_path):
    root = str(tmp_path / "c")
    corpus.ingest_delta(spark, root, _docs(spark, range(1, 11)), "d1")
    corpus.ingest_delta(spark, root, _docs(spark, range(20, 31)),
                        "d2")
    before = _rows(corpus.read_corpus(spark, root))
    pin = SN.pin_snapshot(spark, root, note="training run 41")
    assert sorted(pin["batches"]) == ["d1", "d2"]

    corpus.ingest_delta(spark, root, _docs(spark, range(40, 46)),
                        "d3")
    corpus.compact_batches(spark, root)   # supersedes d1..d3, prunes

    # normal readers see the compacted view (all three batches)
    assert len(_rows(corpus.read_corpus(spark, root))) == len(before) + 6
    # the pinned read is EXACTLY the pre-compaction view
    assert _rows(SN.read_corpus_pinned(spark, root, pin)) == before
    # resolvable by digest string too
    assert _rows(SN.read_corpus_pinned(
        spark, root, pin["snapshot_digest"])) == before

    assert SN.verify_pin(spark, root, pin)["violations"] == []
    rep = corpus.verify_corpus(spark, root)
    assert rep["violations"] == []
    # held batches are reported as pinned, not as sweepable orphans
    assert set(rep["pinned_held"]) == {"d1", "d2"}
    assert "d1" not in rep["orphans"] and "d2" not in rep["orphans"]

    # structural pin: the pinned scan reads ONLY the pinned batch
    # directories — the compacted (live) partition is not even in the
    # file index, because the read is path selection, not a filter
    # (inputFiles() reflects the file index BEFORE filters, so this
    # holds only because pinned reads select paths, not filter rows)
    files = SN.read_corpus_pinned(spark, root, pin).inputFiles()
    assert files
    assert all("batch_id=d1" in f or "batch_id=d2" in f
               for f in files)


def test_pin_idempotent_and_content_addressed(spark, tmp_path):
    root = str(tmp_path / "c")
    corpus.ingest_delta(spark, root, _docs(spark, range(1, 8)), "d1")
    p1 = SN.pin_snapshot(spark, root)
    p2 = SN.pin_snapshot(spark, root)
    assert p1["snapshot_digest"] == p2["snapshot_digest"]
    assert len(SN.list_pins(spark, root)) == 1

    corpus.ingest_delta(spark, root, _docs(spark, range(10, 15)),
                        "d2")
    p3 = SN.pin_snapshot(spark, root)
    assert p3["snapshot_digest"] != p1["snapshot_digest"]
    assert len(SN.list_pins(spark, root)) == 2


def test_pins_report_names_the_cost(spark, tmp_path):
    """The report splits live from held-only batches and prices the
    held bytes; after release+prune it goes to zero."""
    root = str(tmp_path / "c")
    corpus.ingest_delta(spark, root, _docs(spark, range(1, 11)), "d1")
    pin = SN.pin_snapshot(spark, root, note="eval 3")
    rep = SN.pins_report(spark, root)
    entry = rep["pins"][pin["snapshot_digest"]]
    assert entry["note"] == "eval 3"
    assert entry["live_batches"] == ["d1"]
    assert entry["held_batches"] == [] and rep["held_bytes"] == 0

    corpus.compact_batches(spark, root)   # d1 now held-only
    rep = SN.pins_report(spark, root)
    entry = rep["pins"][pin["snapshot_digest"]]
    assert entry["held_batches"] == ["d1"]
    assert entry["held_bytes"] > 0
    assert rep["held_bytes"] == entry["held_bytes"]

    SN.release_pin(spark, root, pin["snapshot_digest"])
    corpus.prune_superseded(spark, root)
    rep = SN.pins_report(spark, root)
    assert rep["pins"] == {} and rep["held_bytes"] == 0


def test_release_then_prune_reclaims(spark, tmp_path):
    root = str(tmp_path / "c")
    corpus.ingest_delta(spark, root, _docs(spark, range(1, 11)), "d1")
    pin = SN.pin_snapshot(spark, root)
    corpus.compact_batches(spark, root)
    # held: nothing pruned while pinned
    assert _rows(SN.read_corpus_pinned(spark, root, pin))

    assert SN.release_pin(spark, root, pin["snapshot_digest"])
    assert not SN.release_pin(spark, root, pin["snapshot_digest"])
    pruned = corpus.prune_superseded(spark, root)
    assert "d1" in pruned
    with pytest.raises(FileNotFoundError, match="d1"):
        SN.read_corpus_pinned(spark, root, pin)
    rep = SN.verify_pin(spark, root, pin)
    assert rep["missing_data"] == ["d1"]
    assert rep["missing_manifests"] == ["d1"]
    assert rep["violations"]


def test_takedown_wins_over_pins_explicitly(spark, tmp_path):
    root = str(tmp_path / "c")
    got = corpus.ingest_delta(spark, root,
                              _docs(spark, range(1, 11)), "d1")
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    pin = SN.pin_snapshot(spark, root)

    with pytest.raises(SN.PinConflictError, match="release"):
        corpus.delete_documents(spark, root, [ids[0]])
    # refused: the pinned read still has the doc
    assert any(d == ids[0] for d, _ in
               _rows(SN.read_corpus_pinned(spark, root, pin)))

    cid = corpus.delete_documents(spark, root, [ids[0]],
                                  release_conflicting_pins=True)
    m = corpus.read_manifest(spark, root, cid)
    assert m["released_pins"] == [pin["snapshot_digest"]]
    assert SN.list_pins(spark, root) == {}
    with pytest.raises(ValueError, match="no pin"):
        SN.read_corpus_pinned(spark, root, pin["snapshot_digest"])
    # batch-level delete honors pins the same way
    cid2 = corpus.ingest_delta(spark, root,
                               _docs(spark, range(50, 55)),
                               "d9").count() and "d9"
    pin2 = SN.pin_snapshot(spark, root)
    with pytest.raises(SN.PinConflictError, match="held by pins"):
        corpus.delete_batch(spark, root, cid2)


def test_pinned_history_cannot_resurrect(spark, tmp_path):
    """Deleting a compact batch whose REPLACED ancestor is pinned
    must refuse: the compact manifest is the only supersession
    record, and removing it would flip the pinned-held ancestor back
    to live (silent data resurrection). Same closure applies to
    row-level takedown — deleting a doc after compaction conflicts
    with a pin on the pre-compaction batch that still holds it."""
    root = str(tmp_path / "c")
    got = corpus.ingest_delta(spark, root,
                              _docs(spark, range(1, 11)), "d1")
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    pin = SN.pin_snapshot(spark, root)
    cid = corpus.compact_batches(spark, root)   # d1 held by the pin

    with pytest.raises(SN.PinConflictError, match="replaced"):
        corpus.delete_batch(spark, root, cid)
    with pytest.raises(SN.PinConflictError):
        corpus.delete_documents(spark, root, [ids[0]])

    # explicit release: the takedown proceeds AND the formerly-held
    # ancestor is swept with it — the doc is gone from disk entirely
    corpus.delete_documents(spark, root, [ids[0]],
                            release_conflicting_pins=True)
    from light_redistribution_in_3dptf_data_pipeline_spark.fs import path_exists
    assert not path_exists(spark, f"{root}/corpus/batch_id=d1")
    assert corpus.verify_corpus(spark, root)["violations"] == []
    assert (corpus.read_corpus(spark, root)
            .filter(F.col("doc_id") == ids[0]).count() == 0)


def test_pin_skips_empty_batches(spark, tmp_path):
    root = str(tmp_path / "c")
    corpus.ingest_delta(spark, root, _docs(spark, range(1, 6)), "d1")
    # every doc below min_tokens → committed batch with n_admitted=0
    tiny = spark.createDataFrame(
        [(100 + i, f"t{i}", "en", "s", 1) for i in range(3)],
        "doc_id LONG, text STRING, lang STRING, "
        "source STRING, n_chars LONG")
    corpus.ingest_delta(spark, root, tiny, "d2")
    assert corpus.read_manifest(spark, root, "d2")["n_admitted"] == 0
    pin = SN.pin_snapshot(spark, root)
    assert "d2" in pin["batches"]
    assert len(_rows(SN.read_corpus_pinned(spark, root, pin))) == 5
    assert SN.verify_pin(spark, root, pin)["violations"] == []


def test_vector_root_pins(spark, tmp_path):
    root = str(tmp_path / "ann")
    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<float>")
        .alias("embedding"))
    A.ann_ingest_delta(spark, root, emb.filter("vec_id < 50"), "v1")
    pin = SN.pin_snapshot(spark, root)

    with pytest.raises(SN.PinConflictError):
        A.delete_vectors(spark, root, [1])
    with pytest.raises(SN.PinConflictError, match="held by pins"):
        A.delete_vector_batch(spark, root, "v1")

    # while the pin holds through compaction, the fsck reports the
    # held batch as pinned, never as a sweepable orphan
    A.compact_ann_batches(spark, root)
    rep = A.verify_ann_index(spark, root)
    assert rep["violations"] == []
    assert rep["pinned_held"] == ["v1"] and rep["orphans"] == []

    cid = A.delete_vectors(spark, root, [1],
                           release_conflicting_pins=True)
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.corpus import (
        read_manifest)
    assert (read_manifest(spark, root, cid)["released_pins"]
            == [pin["snapshot_digest"]])
    assert A.verify_ann_index(spark, root)["violations"] == []


def test_training_build_pinned_reproducible(spark, tmp_path):
    """The closed loop: a build names its snapshot digest; the same
    pin rebuilt in a fresh root yields byte-identical training rows
    even after the corpus moved on; a different snapshot cannot
    silently reuse a build root's memoized stages."""
    root = str(tmp_path / "c")
    docs = _docs(spark, range(1, 31))
    corpus.ingest_delta(spark, root, docs, "d1")
    w = {"s": 1.0}

    b1 = str(tmp_path / "build1")
    m1 = SN.training_build_pinned(spark, root, b1, w, n_shards=2)
    assert m1["snapshot_digest"] in SN.list_pins(spark, root)
    assert m1["n_rows"] > 0
    rows1 = sorted(map(tuple,
                       spark.read.parquet(f"{b1}/shards").collect()))

    # corpus moves on: new batch + compaction (pin holds d1)
    corpus.ingest_delta(spark, root, _docs(spark, range(50, 61)),
                        "d2")
    corpus.compact_batches(spark, root)

    # the same pin in a FRESH build root reproduces the exact rows
    b2 = str(tmp_path / "build2")
    m2 = SN.training_build_pinned(spark, root, b2, w,
                                  pin=m1["snapshot_digest"],
                                  n_shards=2)
    assert m2["snapshot_digest"] == m1["snapshot_digest"]
    rows2 = sorted(map(tuple,
                       spark.read.parquet(f"{b2}/shards").collect()))
    assert rows2 == rows1

    # re-running the SAME root with the same pin is a memoized no-op
    m1b = SN.training_build_pinned(spark, root, b1, w,
                                   pin=m1["snapshot_digest"],
                                   n_shards=2)
    assert m1b["n_rows"] == m1["n_rows"]

    # ...but a new snapshot in an old build root must refuse
    with pytest.raises(ValueError, match="fresh build root"):
        SN.training_build_pinned(spark, root, b1, w, n_shards=2)


def test_linked_pin_multiroot(spark, tmp_path):
    """One linked digest covers corpus + both index families; the
    pinned views survive later writes and compaction on every root;
    coverage gaps are lag, pinned orphan vectors are violations, and
    a takedown that releases an underlying pin kills the linked view
    loudly."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        ivf_index as I)
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import linkage

    croot = str(tmp_path / "c")
    aroot = str(tmp_path / "ann")
    ivroot = str(tmp_path / "ivf")
    emb = load_table(spark, SF_DIR, "embeddings")
    got = corpus.ingest_delta(spark, croot,
                              _docs(spark, range(1, 21)), "d1")
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    vecs = emb.filter(F.col("vec_id").isin(ids))
    A.ann_ingest_delta(spark, aroot, vecs, "v1", corpus_batch="d1")
    I.init_ivf_index(spark, ivroot, emb)
    I.ivf_ingest_delta(spark, ivroot, vecs, "v1", corpus_batch="d1")

    lp = SN.pin_linked(spark, croot, [aroot, ivroot], note="run 7")
    rep = SN.verify_linked_pin(spark, croot, lp)
    assert rep["violations"] == []
    assert all(c == {"docs_without_vectors": 0, "orphan_vectors": 0}
               for c in rep["coverage"].values())
    n_doc = SN.read_corpus_pinned(spark, croot,
                                  lp["corpus_pin"]).count()
    assert (SN.read_vectors_pinned(
        spark, aroot, lp["index_pins"][aroot]).count() == n_doc)

    # every root moves on; the linked view must not
    corpus.ingest_delta(spark, croot, _docs(spark, range(40, 46)),
                        "d2")
    corpus.compact_batches(spark, croot)
    A.ann_ingest_delta(spark, aroot,
                       emb.filter(F.col("vec_id").isin([100, 101])),
                       "v2")
    A.compact_ann_batches(spark, aroot)
    rep = SN.verify_linked_pin(spark, croot, lp["linked_digest"])
    assert rep["violations"] == []
    assert (SN.read_vectors_pinned(
        spark, aroot, lp["index_pins"][aroot]).count() == n_doc)

    # a takedown releasing the pins leaves the linked view DEAD loud
    linkage.takedown_documents(spark, croot, [aroot, ivroot],
                               [ids[0]],
                               release_conflicting_pins=True)
    rep = SN.verify_linked_pin(spark, croot, lp)
    assert any("no longer reproducible" in v
               for v in rep["violations"])
    SN.release_linked_pin(spark, croot, lp)   # idempotent cleanup
    assert SN.list_pins(spark, croot) == {}


def test_read_linked_pinned_joins_docs_and_vectors(spark, tmp_path):
    """The pinned multimodal frame carries text + embedding per doc,
    drops only the measured coverage gap, and refuses ambiguous or
    uncovered index roots."""
    croot = str(tmp_path / "c")
    aroot = str(tmp_path / "ann")
    emb = load_table(spark, SF_DIR, "embeddings")
    got = corpus.ingest_delta(spark, croot,
                              _docs(spark, range(1, 11)), "d1")
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    # one doc deliberately lacks a vector: the coverage gap
    A.ann_ingest_delta(spark, aroot,
                       emb.filter(F.col("vec_id").isin(ids[1:])),
                       "v1")
    lp = SN.pin_linked(spark, croot, [aroot])
    frame = SN.read_linked_pinned(spark, croot, lp)
    assert frame.count() == len(ids) - 1
    assert {"doc_id", "text", "embedding"} <= set(frame.columns)
    gap = SN.verify_linked_pin(spark, croot, lp)
    assert (gap["coverage"][aroot]["docs_without_vectors"]
            == len(ids) - frame.count())

    with pytest.raises(ValueError, match="does not cover"):
        SN.read_linked_pinned(spark, croot, lp,
                              index_root="/nowhere")


def test_linked_pin_orphan_vector_violation(spark, tmp_path):
    """A pinned vector whose doc is not in the pinned corpus is a
    violation (the linked view leaks an embedding); a pinned doc
    without a vector is only a counted gap."""
    croot = str(tmp_path / "c")
    aroot = str(tmp_path / "ann")
    emb = load_table(spark, SF_DIR, "embeddings")
    got = corpus.ingest_delta(spark, croot,
                              _docs(spark, range(1, 11)), "d1")
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    # vectors: all but one pinned doc, plus one id with no doc at
    # all (vec_id 0 exists in the fixture; docs start at 1)
    A.ann_ingest_delta(
        spark, aroot,
        emb.filter(F.col("vec_id").isin(ids[1:] + [0])), "v1")
    lp = SN.pin_linked(spark, croot, [aroot])
    rep = SN.verify_linked_pin(spark, croot, lp)
    cov = rep["coverage"][aroot]
    assert cov["docs_without_vectors"] == 1
    assert cov["orphan_vectors"] == 1
    assert any("no pinned document" in v for v in rep["violations"])


def test_pinned_probes_reproduce_after_index_moves(spark, tmp_path):
    """A similarity result quoted against a pin re-runs identically
    after the live index ingests a better match and compacts — for
    BOTH families; the live probe sees the new vector, the pinned
    probe cannot."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        ivf_index as I)

    emb = load_table(spark, SF_DIR, "embeddings")
    qvec = [float(x) for x in
            emb.filter("vec_id = 0").select("embedding").head()[0]]
    # a NEW vector identical to the query: cosine 1.0, guaranteed
    # to enter the live top-k once ingested
    clone = emb.filter("vec_id = 0").select(
        F.lit(5000).cast("bigint").alias("vec_id"), "embedding")

    aroot = str(tmp_path / "ann")
    A.ann_ingest_delta(spark, aroot, emb.filter("vec_id < 150"), "v1")
    apin = SN.pin_snapshot(spark, aroot)
    before = [(r.vec_id, r.cosine) for r in
              A.ann_incremental_topk(spark, aroot, qvec,
                                     exclude_id=0).collect()]
    A.ann_ingest_delta(spark, aroot, clone, "v2")
    A.compact_ann_batches(spark, aroot)
    live = [(r.vec_id, r.cosine) for r in
            A.ann_incremental_topk(spark, aroot, qvec,
                                   exclude_id=0).collect()]
    pinned = [(r.vec_id, r.cosine) for r in
              A.ann_pinned_topk(spark, aroot, apin, qvec,
                                exclude_id=0).collect()]
    assert pinned == before
    assert live != before and live[0][0] == 5000

    ivroot = str(tmp_path / "ivf")
    I.init_ivf_index(spark, ivroot, emb)
    I.ivf_ingest_delta(spark, ivroot, emb.filter("vec_id < 150")
                       .drop("label"), "v1")
    ipin = SN.pin_snapshot(spark, ivroot)
    before = [(r.vec_id, r.cosine) for r in
              I.ivf_incremental_topk(spark, ivroot, qvec,
                                     exclude_id=0).collect()]
    I.ivf_ingest_delta(spark, ivroot, clone, "v2")
    I.compact_ivf_batches(spark, ivroot)
    live = [(r.vec_id, r.cosine) for r in
            I.ivf_incremental_topk(spark, ivroot, qvec,
                                   exclude_id=0).collect()]
    pinned = [(r.vec_id, r.cosine) for r in
              I.ivf_pinned_topk(spark, ivroot, ipin, qvec,
                                exclude_id=0).collect()]
    assert pinned == before
    assert live != before and live[0][0] == 5000


def test_digest_drift_detected(spark, tmp_path):
    root = str(tmp_path / "c")
    corpus.ingest_delta(spark, root, _docs(spark, range(1, 6)), "d1")
    pin = SN.pin_snapshot(spark, root)
    # rewrite the commit record out-of-band (forbidden by contract)
    from light_redistribution_in_3dptf_data_pipeline_spark.fs import (
        read_text, write_text_atomic)
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.batches import (
        manifest_path)
    m = json.loads(read_text(spark, manifest_path(root, "d1")))
    m["n_admitted"] = m["n_admitted"] + 1
    write_text_atomic(spark, manifest_path(root, "d1"),
                      json.dumps(m, sort_keys=True))
    # the stale snapshot cache would mask the rewrite; drop it the
    # way a fresh control plane would see it
    from light_redistribution_in_3dptf_data_pipeline_spark.fs import delete_path
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.batches import (
        snapshot_path)
    delete_path(spark, snapshot_path(root))
    rep = SN.verify_pin(spark, root, pin)
    assert rep["digest_drift"] == ["d1"]
    assert any("immutable" in v for v in rep["violations"])


# ---------------------------------------------------------------- r10:
# pin lifecycle metadata + holder refcounting (VERDICT r10 brief #4,
# ADVICE r9: shared content-addressed pins must not let one consumer's
# release destroy another's hold)

def test_shared_pin_holders_refcount(spark, tmp_path):
    """Two owners pinning identical committed content collide onto
    ONE content-addressed file holding BOTH; the first owner's
    release keeps the hold alive, the last one's removes it."""
    root = str(tmp_path / "c")
    corpus.ingest_delta(spark, root, _docs(spark, range(1, 9)), "d1")
    p1 = SN.pin_snapshot(spark, root, owner="run-a", created_at=100.0)
    p2 = SN.pin_snapshot(spark, root, owner="run-b", created_at=200.0)
    assert p1["snapshot_digest"] == p2["snapshot_digest"]
    d = p1["snapshot_digest"]
    assert SN.list_pins(spark, root)[d]["holders"] == {
        "run-a": 100.0, "run-b": 200.0}

    # run-a releases: pin survives, run-b's hold intact
    assert SN.release_pin(spark, root, d, owner="run-a") is False
    assert SN.list_pins(spark, root)[d]["holders"] == {"run-b": 200.0}
    assert SN.verify_pin(spark, root, d)["violations"] == []

    # the held data stays GC-protected until the LAST holder releases
    corpus.compact_batches(spark, root)
    assert _rows(SN.read_corpus_pinned(spark, root, d))
    assert SN.release_pin(spark, root, d, owner="run-b") is True
    assert SN.list_pins(spark, root) == {}


def test_release_unknown_owner_keeps_pin(spark, tmp_path):
    root = str(tmp_path / "c")
    corpus.ingest_delta(spark, root, _docs(spark, range(1, 5)), "d1")
    pin = SN.pin_snapshot(spark, root, owner="run-a")
    assert SN.release_pin(spark, root, pin["snapshot_digest"],
                          owner="not-a-holder") is False
    assert pin["snapshot_digest"] in SN.list_pins(spark, root)
    # the DEFAULT release is owner-scoped now (ADVICE r10): a caller
    # who isn't a holder cannot destroy run-a's hold by accident
    assert SN.release_pin(spark, root, pin["snapshot_digest"]) is False
    assert pin["snapshot_digest"] in SN.list_pins(spark, root)
    # the global kill switch must be REQUESTED explicitly
    assert SN.release_pin(spark, root, pin["snapshot_digest"],
                          owner=None) is True


def test_repin_same_owner_refreshes_created_at(spark, tmp_path):
    root = str(tmp_path / "c")
    corpus.ingest_delta(spark, root, _docs(spark, range(1, 5)), "d1")
    SN.pin_snapshot(spark, root, owner="run-a", created_at=100.0)
    p = SN.pin_snapshot(spark, root, owner="run-a", created_at=500.0)
    assert SN.list_pins(spark, root)[
        p["snapshot_digest"]]["holders"] == {"run-a": 500.0}


def test_pins_report_flags_aged_and_over_budget(spark, tmp_path):
    """pins_report carries created_at/age per pin and flags pins
    older than the policy age or holding more than the byte budget
    (VERDICT r10 brief #4 done-test)."""
    root = str(tmp_path / "c")
    corpus.ingest_delta(spark, root, _docs(spark, range(1, 9)), "d1")
    old = SN.pin_snapshot(spark, root, owner="forgotten",
                          created_at=1_000.0)
    # make the pin actually HOLD bytes: supersede its batch
    corpus.ingest_delta(spark, root, _docs(spark, range(20, 25)),
                        "d2")
    corpus.compact_batches(spark, root)
    fresh = SN.pin_snapshot(spark, root, owner="current",
                            created_at=9_000.0)
    assert fresh["snapshot_digest"] != old["snapshot_digest"]

    rep = SN.pins_report(spark, root, max_age_seconds=3_600,
                         now=10_000.0)
    od, fd = old["snapshot_digest"], fresh["snapshot_digest"]
    assert rep["pins"][od]["age_seconds"] == 9_000.0
    assert rep["pins"][od]["flags"] == ["aged"]
    assert rep["pins"][fd]["flags"] == []
    assert rep["flagged_pins"] == [od]
    assert rep["pins"][od]["holders"] == {"forgotten": 1_000.0}

    # byte budget: the old pin holds superseded batches, the fresh
    # one holds nothing (its batches are live)
    rep = SN.pins_report(spark, root, max_held_bytes=0, now=10_000.0)
    assert "over_budget" in rep["pins"][od]["flags"]
    assert rep["pins"][fd]["flags"] == []
    # digest identity is unchanged by metadata (content address
    # hashes manifests only) — two pins over identical content with
    # different owners collided above, and the digest survives a
    # holder change
    assert set(rep["pins"]) == {od, fd}


def test_takedown_crash_window_preserves_pins(spark, tmp_path):
    """ADVICE r9: release_conflicting_pins must not delete the pin
    files BEFORE the retain rewrite — a crash in that window lost the
    holds while the takedown never landed. Now the pins are swept
    only with the fenced manifest PUT: the crashed takedown leaves
    them intact, the retry releases them and records the audit."""
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    root = str(tmp_path / "v")
    A.ann_ingest_delta(spark, root, emb, "d1")
    pin = SN.pin_snapshot(spark, root, owner="eval")

    with pytest.raises(RuntimeError, match="injected crash"):
        A.delete_vectors(spark, root, [1],
                         release_conflicting_pins=True,
                         _crash_after="buckets")
    # crash AFTER the rewrite but BEFORE manifest + pin sweep: the
    # pin (and its audit-ordering contract) survives, and the pinned
    # read still works
    assert pin["snapshot_digest"] in SN.list_pins(spark, root)
    assert SN.verify_pin(spark, root, pin["snapshot_digest"],
                         table="buckets")["violations"] == []

    cid = A.delete_vectors(spark, root, [1],
                           release_conflicting_pins=True)
    ms = batches.load_manifests(spark, root)
    assert ms[cid]["released_pins"] == [pin["snapshot_digest"]]
    assert SN.list_pins(spark, root) == {}


def test_training_build_linked_pinned_reproducible(spark, tmp_path):
    """VERDICT r10 stretch #8: the multimodal build — text AND
    vector shards under ONE linked digest. Mirrors the text-only
    reproducibility test: both roots move on (new batches +
    compaction), a fresh build root rebuilds byte-identical text
    rows AND vector rows from the same linked pin; a different
    linked snapshot cannot reuse a build root's memoized stages."""
    croot = str(tmp_path / "c")
    vroot = str(tmp_path / "v")
    emb = load_table(spark, SF_DIR, "embeddings")
    got = corpus.ingest_delta(spark, croot,
                              _docs(spark, range(1, 31)), "d1")
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    A.ann_ingest_delta(spark, vroot,
                       emb.filter(F.col("vec_id").isin(ids)), "v1",
                       corpus_batch="d1")
    w = {"s": 1.0}

    b1 = str(tmp_path / "build1")
    m1 = SN.training_build_linked_pinned(
        spark, croot, b1, w, index_root=vroot, n_shards=2,
        owner="build")
    assert m1["n_rows"] > 0 and m1["n_vector_rows"] > 0
    # every sampled document's vector shipped exactly once
    assert m1["n_vector_rows"] == len(ids)
    rows1 = sorted(map(tuple,
                       spark.read.parquet(f"{b1}/shards").collect()))
    vecs1 = sorted(
        (r.vec_id, r.shard, [round(float(x), 6) for x in r.embedding])
        for r in spark.read.parquet(f"{b1}/vector_shards").collect())

    # BOTH roots move on; the linked pin holds both views
    corpus.ingest_delta(spark, croot, _docs(spark, range(40, 51)),
                        "d2")
    corpus.compact_batches(spark, croot)
    A.ann_ingest_delta(spark, vroot,
                       emb.filter(F.col("vec_id") >= 150), "v2")
    A.compact_ann_batches(spark, vroot)

    b2 = str(tmp_path / "build2")
    m2 = SN.training_build_linked_pinned(
        spark, croot, b2, w, linked=m1["linked_digest"], n_shards=2)
    assert m2["linked_digest"] == m1["linked_digest"]
    rows2 = sorted(map(tuple,
                       spark.read.parquet(f"{b2}/shards").collect()))
    vecs2 = sorted(
        (r.vec_id, r.shard, [round(float(x), 6) for x in r.embedding])
        for r in spark.read.parquet(f"{b2}/vector_shards").collect())
    assert rows2 == rows1
    assert vecs2 == vecs1

    # a NEW linked snapshot in an old build root must refuse
    with pytest.raises(ValueError, match="fresh build root"):
        SN.training_build_linked_pinned(
            spark, croot, b1, w, index_root=vroot, n_shards=2)


def test_takedown_pins_survive_until_manifest_then_heal(spark,
                                                        tmp_path):
    """The REVERSE crash window (r10 review): a takedown that lands
    its retain manifest but dies before sweeping the released pin
    files must not leave the deleted content pinned-readable forever
    — the committed manifest's released_pins is the staged release
    intent, and the next prune honors it."""
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    root = str(tmp_path / "v")
    A.ann_ingest_delta(spark, root, emb, "d1")
    pin = SN.pin_snapshot(spark, root, owner="eval")

    with pytest.raises(RuntimeError, match="after manifest PUT"):
        A.delete_vectors(spark, root, [1],
                         release_conflicting_pins=True,
                         _crash_after="manifest")
    # the takedown COMMITTED (manifest landed, audit recorded)...
    ms = batches.load_manifests(spark, root)
    retained = [b for b in ms if b.startswith("retain-")]
    assert retained and ms[retained[0]]["released_pins"] == [
        pin["snapshot_digest"]]
    # ...but the crash left the pin file behind
    assert pin["snapshot_digest"] in SN.list_pins(spark, root)

    # the next prune reconciles: pin swept, held batch reclaimed
    batches.prune_superseded(spark, root, ("buckets",))
    assert SN.list_pins(spark, root) == {}
    assert A.verify_ann_index(spark, root)["violations"] == []
    with pytest.raises(ValueError, match="no pin"):
        SN.read_pinned_table(spark, root, pin["snapshot_digest"],
                             "buckets")


def test_linked_pin_holders_refcount(spark, tmp_path):
    """Linked docs refcount like per-root pins (r10 review): two
    consumers linking identical content share ONE doc; the first
    owner's release keeps the other's view (and underlying holds)
    alive, the last removes everything; a non-holder release no-ops."""
    croot = str(tmp_path / "c")
    vroot = str(tmp_path / "v")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = corpus.ingest_delta(spark, croot,
                              _docs(spark, range(1, 11)), "d1")
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    A.ann_ingest_delta(spark, vroot,
                       emb.filter(F.col("vec_id").isin(ids)), "v1")

    la = SN.pin_linked(spark, croot, [vroot], owner="run-a",
                       created_at=100.0)
    lb = SN.pin_linked(spark, croot, [vroot], owner="run-b",
                       created_at=200.0)
    assert la["linked_digest"] == lb["linked_digest"]
    docs = SN.list_linked_pins(spark, croot)
    assert docs[lb["linked_digest"]]["holders"] == {
        "run-a": 100.0, "run-b": 200.0}
    # the underlying per-root pins carry both holders too
    assert set(SN.list_pins(spark, croot)[
        la["corpus_pin"]]["holders"]) == {"run-a", "run-b"}

    # a non-holder release no-ops
    assert SN.release_linked_pin(spark, croot, la["linked_digest"],
                                 owner="nobody") is False
    # run-a releases: the linked view + run-b's holds stay alive
    assert SN.release_linked_pin(spark, croot, la["linked_digest"],
                                 owner="run-a") is False
    assert lb["linked_digest"] in SN.list_linked_pins(spark, croot)
    assert SN.list_pins(spark, croot)[
        la["corpus_pin"]]["holders"] == {"run-b": 200.0}
    assert SN.verify_linked_pin(spark, croot,
                                lb["linked_digest"])["violations"] \
        == []

    # run-b (last holder) releases: doc and underlying pins gone
    assert SN.release_linked_pin(spark, croot, lb["linked_digest"],
                                 owner="run-b") is True
    assert SN.list_linked_pins(spark, croot) == {}
    assert SN.list_pins(spark, croot) == {}
    assert SN.list_pins(spark, vroot) == {}


def test_verify_linked_pin_reports_missing_index_data(spark,
                                                      tmp_path):
    """r10 review: a pinned INDEX batch swept out-of-band must be
    REPORTED by verify_linked_pin (and verify_deployment), not crash
    it with FileNotFoundError."""
    import shutil

    from light_redistribution_in_3dptf_data_pipeline_spark.plans.linkage import (
        verify_deployment)

    croot = str(tmp_path / "c")
    vroot = str(tmp_path / "v")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = corpus.ingest_delta(spark, croot,
                              _docs(spark, range(1, 11)), "d1")
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    A.ann_ingest_delta(spark, vroot,
                       emb.filter(F.col("vec_id").isin(ids)), "v1",
                       corpus_batch="d1")
    linked = SN.pin_linked(spark, croot, [vroot], owner="eval")

    shutil.rmtree(f"{vroot}/buckets/batch_id=v1")
    rep = SN.verify_linked_pin(spark, croot, linked)
    assert any("missing_data" in v for v in rep["violations"])
    # the corpus pin's fsck still ran and is clean
    assert rep["pins"][croot]["violations"] == []
    # the composition survives too (no crash), naming the violation
    drep = verify_deployment(spark, croot, [vroot])
    assert any(linked["index_pins"][vroot] in v
               and "missing_data" in v for v in drep["violations"])


def test_linked_pins_report_rolls_up_cost(spark, tmp_path):
    """Linked-pin pricing (VERDICT r10 brief #6): one number answers
    "what does this multimodal snapshot cost" — total held bytes
    across member roots whose member pins hold superseded batches on
    BOTH sides, plus the oldest holder, with policy flags against
    the rolled-up totals."""
    croot = str(tmp_path / "c")
    aroot = str(tmp_path / "ann")
    emb = load_table(spark, SF_DIR, "embeddings")
    got = corpus.ingest_delta(spark, croot,
                              _docs(spark, range(1, 21)), "d1")
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    A.ann_ingest_delta(spark, aroot,
                       emb.filter(F.col("vec_id").isin(ids)), "v1")
    lp = SN.pin_linked(spark, croot, [aroot], owner="run-a",
                       created_at=100.0)

    # both roots move on and compact: the pinned batches survive
    # ONLY because the linked pin's member pins hold them
    corpus.ingest_delta(spark, croot, _docs(spark, range(40, 46)),
                        "d2")
    corpus.compact_batches(spark, croot)
    A.ann_ingest_delta(spark, aroot,
                       emb.filter(F.col("vec_id").isin([100, 101])),
                       "v2")
    A.compact_ann_batches(spark, aroot)

    rep = SN.linked_pins_report(spark, croot, now=250.0)
    e = rep["linked"][lp["linked_digest"]]
    assert set(e["roots"]) == {croot, aroot}
    assert e["roots"][croot]["held_batches"] == ["d1"]
    assert e["roots"][aroot]["held_batches"] == ["v1"]
    assert e["roots"][croot]["held_bytes"] > 0
    assert e["roots"][aroot]["held_bytes"] > 0
    assert e["held_bytes"] == (e["roots"][croot]["held_bytes"]
                               + e["roots"][aroot]["held_bytes"])
    assert e["oldest_created_at"] == 100.0
    assert e["age_seconds"] == 150.0
    assert e["holders"] == {"run-a": 100.0}
    assert e["flags"] == [] and rep["flagged_linked_pins"] == []

    # policy flags key off the ROLLED-UP numbers
    rep2 = SN.linked_pins_report(spark, croot, max_age_seconds=50,
                                 max_held_bytes=0, now=250.0)
    e2 = rep2["linked"][lp["linked_digest"]]
    assert set(e2["flags"]) == {"aged", "over_budget"}
    assert rep2["flagged_linked_pins"] == [lp["linked_digest"]]

    # a released member pin prices as 0 and is NAMED, not crashed on
    SN.release_pin(spark, aroot, lp["index_pins"][aroot],
                   owner="run-a")
    rep3 = SN.linked_pins_report(spark, croot, now=250.0)
    e3 = rep3["linked"][lp["linked_digest"]]
    assert e3["missing_member_pins"] == [
        f"{aroot}:{lp['index_pins'][aroot]}"]
    assert e3["held_bytes"] == e["roots"][croot]["held_bytes"]


def test_release_linked_pin_racing_global_release_returns_true(
        spark, tmp_path, monkeypatch):
    """ADVICE r11: in release_linked_pin's owner path, a racing
    GLOBAL release can delete the linked doc between the two lock
    blocks. The documented contract is 'True iff the linked doc is
    gone after this call' — the doc IS gone and the owner's
    underlying holds were released, so the owner call must return
    True, not False. Inject the race by having the underlying
    release step trigger the global release."""
    croot = str(tmp_path / "c")
    vroot = str(tmp_path / "v")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = corpus.ingest_delta(spark, croot,
                              _docs(spark, range(1, 11)), "d1")
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    A.ann_ingest_delta(spark, vroot,
                       emb.filter(F.col("vec_id").isin(ids)), "v1")
    lp = SN.pin_linked(spark, croot, [vroot], owner="run-a",
                       created_at=100.0)

    real_release_pin = SN.release_pin
    fired = {"done": False}

    def racing_release_pin(spark_, root_, digest, owner=None):
        out = real_release_pin(spark_, root_, digest, owner=owner)
        if not fired["done"]:
            fired["done"] = True
            # the race: a GLOBAL release lands while the owner call
            # is between its two lock blocks
            real_release = SN.release_linked_pin.__wrapped__ \
                if hasattr(SN.release_linked_pin, "__wrapped__") \
                else SN.release_linked_pin
            monkeypatch.setattr(SN, "release_pin", real_release_pin)
            real_release(spark_, croot, lp["linked_digest"],
                         owner=None)
        return out

    monkeypatch.setattr(SN, "release_pin", racing_release_pin)
    assert SN.release_linked_pin(spark, croot, lp["linked_digest"],
                                 owner="run-a") is True
    # doc gone, all holds gone — idempotent re-release still no-ops
    assert SN.list_linked_pins(spark, croot) == {}
    assert SN.list_pins(spark, croot) == {}
    assert SN.list_pins(spark, vroot) == {}
    assert SN.release_linked_pin(spark, croot, lp,
                                 owner="run-a") is False
