"""Fast default-gate checks of the batch-commit protocol
(plans/batches.py) on the three root families that share it: a
corpus root, an LSH posting root and an IVF posting root, each a
copy of a two-batch template of 12 rows. Covers compaction
with a duplicated batch id, row-level retention with and without a
conflicting pin, the pin-refused batch delete and re-admission, both
crash points of an ingest (after the data write, after the manifest
PUT), the orphan sweep, the fsck ledger, the corpus-alias entry
points, and the Spark job count of each commit path and its job
group."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from light_redistribution_in_3dptf_data_pipeline_spark.catalog import load_table
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ann_index as A)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    batches as B)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    corpus as C)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ivf_index as I)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    migration as M)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    recall as R)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    snapshots as SN)

from conftest import SF_DIR, jobs_in_group

FAMILIES = ("corpus", "ann", "ivf")


def _docs(spark, ids):
    # pairwise-disjoint vocabularies so the near-dup gate admits all
    return spark.createDataFrame(
        [(int(i), " ".join(f"p{i}x{j}q{(i * 7 + j * 13) % 997}"
                           for j in range(14)), "en", "s", 1)
         for i in ids],
        "doc_id LONG, text STRING, lang STRING, source STRING, "
        "n_chars LONG")


class Family:
    """One root family behind a uniform maintenance surface."""

    def __init__(self, name, spark, cl):
        self.name, self.spark, self.cl = name, spark, cl
        self.table = {"corpus": "corpus", "ann": "buckets",
                      "ivf": "postings"}[name]

    def ingest(self, root, bid, ids, **kw):
        s = self.spark
        if self.name == "corpus":
            return C.ingest_delta(s, root, _docs(s, ids), bid, **kw)
        rows = self.cl.filter(F.col("vec_id").isin(list(ids)))
        if self.name == "ann":
            return A.ann_ingest_delta(s, root, rows, bid, num_planes=4,
                                      **kw)
        return I.ivf_ingest_delta(s, root, rows, bid, **kw)

    def ids(self, root):
        s = self.spark
        df = {"corpus": lambda: C.read_corpus(s, root).select(
                  F.col("doc_id").alias("vec_id")),
              "ann": lambda: A.read_ann_index(s, root),
              "ivf": lambda: I.read_ivf_postings(s, root)}[self.name]()
        return sorted(int(r.vec_id) for r in df.select("vec_id").collect())

    def compact(self, root, batch_ids=None):
        fn = {"corpus": C.compact_batches, "ann": A.compact_ann_batches,
              "ivf": I.compact_ivf_batches}[self.name]
        return fn(self.spark, root, batch_ids=batch_ids)

    def retain(self, root, ids, **kw):
        fn = {"corpus": C.delete_documents, "ann": A.delete_vectors,
              "ivf": I.delete_ivf_vectors}[self.name]
        return fn(self.spark, root, ids, **kw)

    def delete_batch(self, root, bid):
        fn = {"corpus": C.delete_batch, "ann": A.delete_vector_batch,
              "ivf": I.delete_ivf_batch}[self.name]
        return fn(self.spark, root, bid)

    def prune_uncommitted(self, root):
        fn = {"corpus": C.prune_uncommitted,
              "ann": A.prune_ann_uncommitted,
              "ivf": I.prune_ivf_uncommitted}[self.name]
        return fn(self.spark, root)

    def verify(self, root):
        fn = {"corpus": C.verify_corpus, "ann": A.verify_ann_index,
              "ivf": I.verify_ivf_index}[self.name]
        return fn(self.spark, root)


@pytest.fixture(scope="module")
def cl(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    return (R.clustered_embeddings(emb, n_clusters=4)
            .filter("vec_id < 200").localCheckpoint())


GATED = {"passage_min_shared": 3}


@pytest.fixture(scope="module")
def templates(spark, cl, tmp_path_factory):
    """Per family: a root holding batches d1 (ids 1-6) and d2 (ids
    7-12), committed once and copied per test; ``corpus_gated``
    ingested both under the passage gate."""
    base = tmp_path_factory.mktemp("batch_protocol")
    out = {}
    for name in (*FAMILIES, "corpus_gated"):
        root = str(base / name)
        if name == "ivf":
            I.init_ivf_index(spark, root, cl.withColumn(
                "label", F.pmod(F.col("vec_id"), 4)))
        fam = Family(name.split("_")[0], spark, cl)
        kw = GATED if name == "corpus_gated" else {}
        fam.ingest(root, "d1", range(1, 7), **kw)
        fam.ingest(root, "d2", range(7, 13), **kw)
        out[name] = root
    return out


@pytest.fixture(params=FAMILIES)
def fam(request, spark, cl):
    return Family(request.param, spark, cl)


@pytest.fixture
def root(fam, templates, tmp_path):
    dst = str(tmp_path / fam.name)
    shutil.copytree(templates[fam.name], dst)
    return dst


def _clean(rep):
    assert rep["violations"] == [] and rep["orphans"] == [], rep


def test_compact_duplicate_ids(fam, root):
    """A duplicated id in ``batch_ids`` is one batch: the manifest
    ledger counts each folded batch once and the fsck stays clean."""
    before = fam.ids(root)
    cid = fam.compact(root, ["d1", "d1", "d2"])
    assert B.read_manifest(fam.spark, root, cid)["n_admitted"] == 12
    assert B.committed_batches(fam.spark, root) == [cid]
    assert fam.ids(root) == before
    _clean(fam.verify(root))


def test_retain_without_and_with_pin(fam, root):
    spark = fam.spark
    cid = fam.retain(root, [3])
    m = B.read_manifest(spark, root, cid)
    assert (m["n_deleted"], m["n_admitted"], m["replaces"]) \
        == (1, 5, ["d1"])
    assert 3 not in fam.ids(root)
    _clean(fam.verify(root))

    pin = SN.pin_snapshot(spark, root, owner="eval")
    before = fam.ids(root)
    with pytest.raises(SN.PinConflictError, match="release"):
        fam.retain(root, [8])
    assert fam.ids(root) == before   # refused: nothing changed
    cid = fam.retain(root, [8], release_conflicting_pins=True)
    assert B.read_manifest(spark, root, cid)["released_pins"] \
        == [pin["snapshot_digest"]]
    assert SN.list_pins(spark, root) == {}
    assert fam.ids(root) == [i for i in before if i != 8]
    _clean(fam.verify(root))


def test_delete_batch_refused_under_pin_then_readmits(fam, root):
    spark = fam.spark
    pin = SN.pin_snapshot(spark, root, owner="eval")
    with pytest.raises(SN.PinConflictError, match="held by pins"):
        fam.delete_batch(root, "d1")
    assert B.committed_batches(spark, root) == ["d1", "d2"]
    SN.release_pin(spark, root, pin["snapshot_digest"], owner="eval")
    fam.delete_batch(root, "d1")
    assert fam.ids(root) == list(range(7, 13))
    # removed content is re-admittable, under a fresh id or the freed one
    m = fam.ingest(root, "d1", range(1, 7))
    n = (m.count() if fam.name == "corpus" else m["n_admitted"])
    assert n == 6
    assert fam.ids(root) == list(range(1, 13))
    _clean(fam.verify(root))


def test_crash_after_data_write_is_invisible(fam, root):
    before = fam.ids(root)
    with pytest.raises(RuntimeError, match="injected crash"):
        fam.ingest(root, "d3", range(20, 24), _crash_after=fam.table)
    assert fam.ids(root) == before
    assert fam.verify(root)["orphans"] == ["d3"]
    fam.ingest(root, "d3", range(20, 24))   # retry: exactly once
    assert fam.ids(root) == before + [20, 21, 22, 23]
    _clean(fam.verify(root))


def test_crash_after_manifest_put_is_exactly_once(fam, root,
                                                  monkeypatch):
    """A crash between the manifest PUT and the snapshot rewrite: the
    batch committed, readers see it once (the trailing manifest is
    read past the stale snapshot), and the retry is refused by
    identity."""
    before = fam.ids(root)

    def crash(*a, **k):
        raise RuntimeError("injected crash before snapshot")

    monkeypatch.setattr(B, "write_snapshot", crash)
    with pytest.raises(RuntimeError, match="before snapshot"):
        fam.ingest(root, "d3", range(20, 24))
    monkeypatch.undo()
    assert fam.ids(root) == before + [20, 21, 22, 23]
    with pytest.raises(B.BatchAlreadyIngested):
        fam.ingest(root, "d3", range(20, 24))
    assert fam.ids(root) == before + [20, 21, 22, 23]
    _clean(fam.verify(root))


def test_prune_uncommitted_sweeps_planted_orphan(fam, root):
    shutil.copytree(f"{root}/{fam.table}/batch_id=d1",
                    f"{root}/{fam.table}/batch_id=ghost")
    rep = fam.verify(root)
    assert rep["orphans"] == ["ghost"] and rep["violations"] == []
    assert fam.prune_uncommitted(root) == ["ghost"]
    _clean(fam.verify(root))


def test_fsck_names_missing_live_partition(fam, root):
    shutil.rmtree(f"{root}/{fam.table}/batch_id=d2")
    v = fam.verify(root)["violations"]
    assert any(x.startswith("ledger: batch d2 has 0 ") for x in v), v


def test_corpus_maintenance_through_alias(spark, templates, tmp_path):
    """Every corpus maintenance entry point resolves a
    ``set_corpus_pointer`` alias, like ingest/read/fsck do."""
    root = str(tmp_path / "corpus")
    shutil.copytree(templates["corpus"], root)
    alias = str(tmp_path / "alias.json")
    M.set_corpus_pointer(spark, alias, root)
    shutil.copytree(f"{root}/corpus/batch_id=d1",
                    f"{root}/corpus/batch_id=ghost")
    assert C.prune_uncommitted(spark, alias) == ["ghost"]
    cid = C.compact_batches(spark, alias, batch_ids=["d1"])
    assert C.prune_superseded(spark, alias) == []   # compaction swept
    C.delete_batch(spark, alias, "d2")
    assert C.committed_batches(spark, root) == [cid]
    _clean(C.verify_corpus(spark, alias))


# Jobs each commit path starts, counted by job-id range in the status
# store; every one of them, the pooled corpus index writes included,
# runs in the caller's job group.
# The values are those of the code before the protocol moved into
# plans/batches.py, measured on a 4-core host: the move must not add
# or drop a job.
JOBS = {
    ("corpus", "ingest"): 26, ("corpus", "ingest_gated"): 42,
    ("corpus", "compact"): 10, ("corpus", "compact_gated"): 13,
    ("corpus", "retain"): 18, ("ann", "ingest"): 9,
    ("ivf", "ingest"): 11,
}


@pytest.mark.parametrize("name,op", sorted(JOBS))
def test_commit_path_job_counts(spark, cl, templates, tmp_path, name,
                                op):
    fam = Family(name, spark, cl)
    gated = GATED if op.endswith("gated") else {}
    root = str(tmp_path / name)
    shutil.copytree(templates[name + "_gated" * bool(gated)], root)
    run = {"ingest": lambda: fam.ingest(root, "d3", range(20, 30),
                                        **gated),
           "compact": lambda: fam.compact(root),
           "retain": lambda: fam.retain(root, [3, 8])}[op.split("_")[0]]
    started, grouped = jobs_in_group(spark, f"{name}-{op}", run)
    assert grouped == started == JOBS[(name, op)]
