"""Fast parity gate for the posting-index core (plans/postings.py):
every probe path the DuckDB oracle cannot see — single, pinned,
batch, chunked (serial and chunk-pool, whose jobs keep the caller's
job group), early exit (box/seed/seed2),
``probe_buckets`` and the int8 rerank — over five small roots
(≤ 256 vectors each: LSH float L=1, LSH float L=2, LSH int8, IVF
float, IVF int8). Chunked must equal unchunked and early exit must
equal the plain probe row for row; a full fan-out must equal brute
force. Also pins the resource bounds of the chunked path (each
chunk broadcasts only its own queries; the driver collects distinct
qids and per-chunk key lists, never the Q×keys pairs) and the
public API of both families."""

from __future__ import annotations

import inspect
import re

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from light_redistribution_in_3dptf_data_pipeline_spark.catalog import load_table
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ann_index as A)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ivf_index as I)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    recall as R)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    snapshots as S)

from conftest import SF_DIR, jobs_in_group
J = 4          # 16 buckets per table: hamming=J is a full fan-out
N_CELLS = 6
K = 5


@pytest.fixture(scope="module")
def cl(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    return (R.clustered_embeddings(emb, n_clusters=N_CELLS)
            .filter("vec_id < 192").localCheckpoint())


@pytest.fixture(scope="module")
def roots(spark, cl, tmp_path_factory):
    base = tmp_path_factory.mktemp("posting_core")
    out = {}
    for name, kw in (("ann_f1", {}), ("ann_f2", {"num_tables": 2}),
                     ("ann_i8", {"storage": "int8"})):
        out[name] = str(base / name)
        A.ann_ingest_delta(spark, out[name], cl, "d1", num_planes=J,
                           **kw)
    for name, storage in (("ivf_f", "float"), ("ivf_i8", "int8")):
        out[name] = str(base / name)
        I.init_ivf_index(spark, out[name], cl.withColumn(
            "label", F.pmod(F.col("vec_id"), N_CELLS)), storage=storage)
        I.ivf_ingest_delta(spark, out[name], cl, "d1")
    return out


@pytest.fixture(scope="module")
def queries(spark, cl):
    return (cl.filter("vec_id % 50 = 20")
            .select(F.col("vec_id").alias("qid"), "embedding")
            .localCheckpoint())


def _rows(df: DataFrame) -> list:
    return sorted((int(r.qid), int(r.vec_id), r.cosine)
                  for r in df.collect())


def _qvec(cl, vid):
    return [float(x) for x in cl.filter(F.col("vec_id") == vid)
            .select("embedding").head()[0]]


def _batch(root, spark, queries, **kw):
    fn = A.ann_batch_topk if "/ann_" in root else I.ivf_batch_topk
    return _rows(fn(spark, root, queries, k=K, **kw))


# (root, probe kwargs, rerank, the variant probes that must equal
# the plain batch probe): every family, storage, table count and
# probe-key mode, each through chunking (serial or chunk-pool) and
# early exit (box, seed or seed2)
BATCH_CASES = [
    ("ann_f1", {"hamming": 1}, False,
     [{"max_queries_per_job": 2},
      {"max_queries_per_job": 2, "chunk_concurrency": 2,
       "early_exit": "box"},
      {"early_exit": "seed"}, {"early_exit": "seed2"}]),
    ("ann_f1", {"probe_buckets": 5}, False,
     [{"max_queries_per_job": 2, "early_exit": "seed2"}]),
    ("ann_f2", {"hamming": 1}, False,
     [{"max_queries_per_job": 2}, {"early_exit": "seed2"}]),
    ("ann_i8", {"hamming": 1}, True,
     [{"max_queries_per_job": 2, "chunk_concurrency": 2,
       "early_exit": "seed"}]),
    ("ivf_f", {"nprobe": 3}, False,
     [{"max_queries_per_job": 2},
      {"max_queries_per_job": 2, "chunk_concurrency": 2,
       "early_exit": "box"},
      {"early_exit": "seed2"}]),
    ("ivf_i8", {"nprobe": 3}, True,
     [{"max_queries_per_job": 2, "early_exit": "seed"}]),
]


@pytest.mark.parametrize("name,kw,rerank,variants", BATCH_CASES)
def test_batch_variants_equal_plain(spark, roots, cl, queries, name, kw,
                                    rerank, variants):
    root = roots[name]
    if rerank:
        kw = {**kw, "rerank_vectors": cl}
    plain = _batch(root, spark, queries, **kw)
    assert len(plain) == queries.count() * K
    for v in variants:
        assert _batch(root, spark, queries, **kw, **v) == plain, v


def _single(root):
    return (A.ann_incremental_topk if "/ann_" in root
            else I.ivf_incremental_topk)


@pytest.mark.parametrize("name,kw,rerank,variants", BATCH_CASES)
def test_single_equals_batch(spark, roots, cl, queries, name, kw,
                             rerank, variants):
    root = roots[name]
    if rerank:
        kw = {**kw, "rerank_vectors": cl}
    qid = 70
    batch = _batch(root, spark, queries.filter(F.col("qid") == qid),
                   **kw)
    single = _single(root)(spark, root, _qvec(cl, qid), k=K,
                           exclude_id=qid, **kw)
    assert _rows(single.withColumn("qid", F.lit(qid))) == batch


@pytest.mark.parametrize("name", ["ann_f2", "ann_i8", "ivf_f", "ivf_i8"])
def test_single_early_exit_and_pinned_equal_plain(spark, roots, cl,
                                                  name):
    root = roots[name]
    kw = ({"hamming": 2} if name.startswith("ann") else {"nprobe": 4})
    if name.endswith("i8"):
        kw["rerank_vectors"] = cl
    qv = _qvec(cl, 70)

    def run(fn, *a, **more):
        return _rows(fn(spark, root, *a, qv, k=K, exclude_id=70, **kw,
                        **more).withColumn("qid", F.lit(70)))

    plain = run(_single(root))
    for mode in ("box", "seed"):
        assert run(_single(root), early_exit=mode) == plain, mode
    pin = S.pin_snapshot(spark, root)   # content-addressed: idempotent
    pinned = A.ann_pinned_topk if "/ann_" in root else I.ivf_pinned_topk
    assert run(pinned, pin) == plain


@pytest.mark.parametrize("name", ["ann_f1", "ann_f2", "ivf_f"])
def test_full_fanout_equals_brute_force(spark, roots, cl, queries, name):
    root = roots[name]
    full = ({"hamming": J} if name.startswith("ann")
            else {"nprobe": N_CELLS})
    got = {}
    for qid, vid, _ in _batch(root, spark, queries, **full):
        got.setdefault(qid, []).append(vid)
    vecs = (A.ann_vectors if name.startswith("ann") else I.ivf_vectors)(
        spark, root)
    for r in queries.collect():
        want = R.exact_topk_ids(vecs, list(r.embedding), K,
                                exclude_id=r.qid)
        assert sorted(got[r.qid]) == sorted(want), r.qid


def _subtrees(plan: str, node: str) -> list[str]:
    """The text of every subtree rooted at a ``node`` operator of a
    physical-plan tree string."""
    lines = plan.split("\n")

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for i, line in enumerate(lines):
        if node in line.lstrip(" :+-*()0123456789").split(" ")[0]:
            d = depth(line)
            j = i + 1
            while j < len(lines) and depth(lines[j]) > d:
                j += 1
            out.append("\n".join(lines[i:j]))
    return out


def test_chunk_pool_jobs_stay_in_the_callers_job_group(spark, roots,
                                                      queries):
    started, grouped = jobs_in_group(
        spark, "posting-chunk-pool",
        lambda: _batch(roots["ivf_f"], spark, queries, nprobe=3,
                       max_queries_per_job=2, chunk_concurrency=2))
    assert grouped == started > 0


def test_chunk_broadcasts_only_its_queries(spark, roots, cl, queries,
                                           tmp_path, monkeypatch):
    """No chunk job broadcasts query rows outside its qid range, even
    with constraint propagation off (the optimizer can then no
    longer infer the range onto an unfiltered query frame)."""
    src = str(tmp_path / "queries.parquet")
    queries.write.parquet(src)
    q = spark.read.parquet(src)
    plans = []
    cls = type(q)   # the concrete (classic) DataFrame class
    real = cls.localCheckpoint

    def spy(self, *a, **kw):
        plans.append(self._jdf.queryExecution().executedPlan()
                     .toString())
        return real(self, *a, **kw)

    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    try:
        monkeypatch.setattr(cls, "localCheckpoint", spy)
        for name in ("ann_f1", "ivf_i8"):
            for ee in (False, "box"):
                kw = {"rerank_vectors": cl} if name == "ivf_i8" else {}
                _batch(roots[name], spark, q, max_queries_per_job=2,
                       early_exit=ee, **kw)
    finally:
        spark.conf.unset("spark.sql.constraintPropagation.enabled")
    checked = 0
    for plan in plans:
        for sub in _subtrees(plan, "BroadcastExchange"):
            if "FileScan parquet [qid#" in sub:   # the query source
                checked += 1
                assert re.search(r"qid#\d+L? >= \d+", sub) and \
                    re.search(r"qid#\d+L? <= \d+", sub), sub
    assert checked


def test_chunked_collects_are_distinct_keys(spark, roots, queries,
                                            monkeypatch):
    """The chunked IVF path collects distinct qids plus one
    distinct-cell list per chunk — O(Q + chunks·cells) driver values,
    never the Q×nprobe (qid, cell) pairs."""
    collected = []
    cls = type(queries)   # the concrete (classic) DataFrame class
    real = cls.collect

    def spy(self):
        rows = real(self)
        collected.extend(rows)
        return rows

    nq, per = queries.count(), 2
    monkeypatch.setattr(cls, "collect", spy)
    I.ivf_batch_topk(spark, roots["ivf_f"], queries, k=K, nprobe=4,
                     max_queries_per_job=per)
    monkeypatch.undo()
    assert all(len(r) == 1 for r in collected), collected[:3]
    n_chunks = -(-nq // per)
    assert len(collected) <= nq + n_chunks * N_CELLS


# inspect.signature of every public function, as released
SIGNATURES = {
    A: {
        "ann_batch_topk": "(spark: 'SparkSession', root: 'str', queries: 'DataFrame', k: 'int' = 10, hamming: 'int' = 1, id_col: 'str' = 'qid', vec_col: 'str' = 'embedding', exclude_self: 'bool' = True, max_queries_per_job: 'int | None' = None, rerank_vectors: 'DataFrame | None' = None, rerank_cut: 'int' = 4, early_exit: \"'bool | str'\" = False, chunk_concurrency: 'int' = 1, probe_buckets: 'int | None' = None) -> 'DataFrame'",
        "ann_incremental_topk": "(spark: 'SparkSession', root: 'str', query_vec: 'list', k: 'int' = 10, exclude_id: 'int | None' = None, hamming: 'int' = 1, rerank_vectors: 'DataFrame | None' = None, rerank_cut: 'int' = 4, early_exit: \"'bool | str'\" = False, probe_buckets: 'int | None' = None) -> 'DataFrame'",
        "ann_ingest_delta": "(spark: 'SparkSession', root: 'str', emb: 'DataFrame', batch_id: 'str', id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', num_planes: 'int' = 8, dim: 'int' = 64, dedup_ids: 'bool' = True, corpus_batch: \"'str | list[str] | None'\" = None, _crash_after: 'str | None' = None, manifest_extra: 'dict | None' = None, storage: 'str | None' = None, num_tables: 'int | None' = None) -> 'dict'",
        "ann_pinned_topk": "(spark: 'SparkSession', root: 'str', pin, query_vec: 'list', k: 'int' = 10, exclude_id: 'int | None' = None, hamming: 'int' = 1, rerank_vectors: 'DataFrame | None' = None, rerank_cut: 'int' = 4) -> 'DataFrame'",
        "ann_vectors": "(spark: 'SparkSession', root: 'str') -> 'DataFrame'",
        "committed_ann_batches": "(spark: 'SparkSession', root: 'str') -> 'list[str]'",
        "compact_ann_batches": "(spark: 'SparkSession', root: 'str', batch_ids: 'list[str] | None' = None, n_files_per_bucket: 'int' = 1, rows_per_file: 'int | None' = None) -> 'str'",
        "delete_vector_batch": "(spark: 'SparkSession', root: 'str', batch_id: 'str') -> 'None'",
        "delete_vectors": "(spark: 'SparkSession', root: 'str', vec_ids: \"'list[int] | DataFrame'\", n_files_per_bucket: 'int' = 1, release_conflicting_pins: 'bool' = False, _crash_after: 'str | None' = None) -> 'str'",
        "multiprobe_set": "(query_vec: 'list', num_planes: 'int', dim: 'int', n_buckets: 'int') -> 'list[int]'",
        "prune_ann_uncommitted": "(spark: 'SparkSession', root: 'str') -> 'list[str]'",
        "read_ann_buckets": "(spark: 'SparkSession', root: 'str', buckets: \"'list[int]'\", parallelism: \"'str | None'\" = 'bytes') -> 'DataFrame'",
        "read_ann_index": "(spark: 'SparkSession', root: 'str') -> 'DataFrame'",
        "verify_ann_index": "(spark: 'SparkSession', root: 'str') -> 'dict'",
    },
    I: {
        "assign_cells": "(spark: 'SparkSession', root: 'str', delta: 'DataFrame') -> 'DataFrame'",
        "committed_ivf_batches": "(spark: 'SparkSession', root: 'str') -> 'list[str]'",
        "compact_ivf_batches": "(spark: 'SparkSession', root: 'str', batch_ids: 'list[str] | None' = None, n_files_per_cell: 'int' = 1, rows_per_file: 'int | None' = None) -> 'str'",
        "delete_ivf_batch": "(spark: 'SparkSession', root: 'str', batch_id: 'str') -> 'None'",
        "delete_ivf_vectors": "(spark: 'SparkSession', root: 'str', vec_ids: \"'list[int] | DataFrame'\", n_files_per_cell: 'int' = 1, release_conflicting_pins: 'bool' = False, _crash_after: 'str | None' = None) -> 'str'",
        "init_ivf_index": "(spark: 'SparkSession', root: 'str', train: 'DataFrame', id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', cell_col: 'str' = 'label', dim: 'int' = 64, train_k: \"'int | str | None'\" = None, train_iters: 'int | None' = None, train_metric: 'str' = 'l2', storage: 'str' = 'float', train_normalize: 'bool' = False) -> 'dict'",
        "ivf_batch_topk": "(spark: 'SparkSession', root: 'str', queries: 'DataFrame', k: 'int' = 10, nprobe: 'int' = 2, id_col: 'str' = 'qid', vec_col: 'str' = 'embedding', exclude_self: 'bool' = True, max_queries_per_job: 'int | None' = None, rerank_vectors: 'DataFrame | None' = None, rerank_cut: 'int' = 4, early_exit: \"'bool | str'\" = False, chunk_concurrency: 'int' = 1) -> 'DataFrame'",
        "ivf_incremental_topk": "(spark: 'SparkSession', root: 'str', query_vec: 'list', k: 'int' = 10, nprobe: 'int' = 2, exclude_id: 'int | None' = None, rerank_vectors: 'DataFrame | None' = None, rerank_cut: 'int' = 4, early_exit: \"'bool | str'\" = False) -> 'DataFrame'",
        "ivf_ingest_delta": "(spark: 'SparkSession', root: 'str', emb: 'DataFrame', batch_id: 'str', id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', cell_col: 'str | None' = None, dedup_ids: 'bool' = True, corpus_batch: \"'str | list[str] | None'\" = None, _crash_after: 'str | None' = None, manifest_extra: 'dict | None' = None) -> 'dict'",
        "ivf_pinned_topk": "(spark: 'SparkSession', root: 'str', pin, query_vec: 'list', k: 'int' = 10, nprobe: 'int' = 2, exclude_id: 'int | None' = None, rerank_vectors: 'DataFrame | None' = None, rerank_cut: 'int' = 4) -> 'DataFrame'",
        "ivf_vectors": "(spark: 'SparkSession', root: 'str') -> 'DataFrame'",
        "prune_ivf_uncommitted": "(spark: 'SparkSession', root: 'str') -> 'list[str]'",
        "read_ivf_cells": "(spark: 'SparkSession', root: 'str', cells: \"'list[int]'\", parallelism: \"'str | None'\" = 'bytes') -> 'DataFrame'",
        "read_ivf_postings": "(spark: 'SparkSession', root: 'str') -> 'DataFrame'",
        "verify_ivf_index": "(spark: 'SparkSession', root: 'str') -> 'dict'",
    },
}


def test_public_signatures_unchanged():
    for mod, sigs in SIGNATURES.items():
        public = sorted(n for n, v in vars(mod).items()
                        if inspect.isfunction(v) and not n.startswith("_")
                        and v.__module__ == mod.__name__)
        assert public == sorted(sigs), mod.__name__
        for name, sig in sigs.items():
            assert str(inspect.signature(getattr(mod, name))) == sig, name


# probe return schemas, as released
SCHEMAS = {
    "ann_single": "struct<vec_id:bigint,cosine:double,bucket:int>",
    "ann_single_i8": "struct<vec_id:bigint,cosine:double,bucket:int>",
    "ann_batch": "struct<qid:bigint,vec_id:bigint,cosine:double,bucket:int>",
    "ann_pinned": "struct<vec_id:bigint,cosine:double,bucket:int>",
    "ivf_single": "struct<vec_id:bigint,cosine:double,cell:bigint>",
    "ivf_single_i8": "struct<vec_id:bigint,cosine:double,cell:bigint>",
    "ivf_batch": "struct<qid:bigint,vec_id:bigint,cosine:double,cell:bigint>",
    "ivf_pinned": "struct<vec_id:bigint,cosine:double,cell:bigint>",
}


def test_probe_return_schemas_unchanged(spark, roots, cl, queries):
    qv = _qvec(cl, 70)
    pin = S.pin_snapshot(spark, roots["ann_f1"])
    ipin = S.pin_snapshot(spark, roots["ivf_f"])
    got = {
        "ann_single": A.ann_incremental_topk(spark, roots["ann_f1"], qv),
        "ann_single_i8": A.ann_incremental_topk(spark, roots["ann_i8"],
                                                qv),
        "ann_batch": A.ann_batch_topk(spark, roots["ann_f1"], queries),
        "ann_pinned": A.ann_pinned_topk(spark, roots["ann_f1"], pin, qv),
        "ivf_single": I.ivf_incremental_topk(spark, roots["ivf_f"], qv),
        "ivf_single_i8": I.ivf_incremental_topk(spark, roots["ivf_i8"],
                                                qv),
        "ivf_batch": I.ivf_batch_topk(spark, roots["ivf_f"], queries),
        "ivf_pinned": I.ivf_pinned_topk(spark, roots["ivf_f"], ipin, qv),
    }
    assert {n: df.schema.simpleString() for n, df in got.items()} \
        == SCHEMAS
