"""INCREMENTALLY-MAINTAINED IVF index — the coarse-quantizer analog
of the incremental LSH index (plans/ann_index.py), closing the one
similarity structure that still required a full rebuild per delta
(operators/similarity.write_ivf_index; VERDICT r8 "What's missing"
#1): at 100 TB you cannot re-cluster and rewrite every posting list
because a day of embeddings arrived.

The IVF contract that makes incremental maintenance sound is that the
coarse quantizer is TRAINED ONCE and then FROZEN — exactly how FAISS
serves IVF in production: re-training centroids per delta would move
cell boundaries under the already-written posting lists, silently
mis-probing everything older than the last delta. So:

- ``{root}/centroids`` — one row per cell (exact int64 nano-unit
  component sums + the training count), written by
  :func:`init_ivf_index` and never again. L rows — driver-sized by
  IVF construction (that is what a coarse quantizer IS).
- ``{root}/_meta.json`` — the quantizer identity: kind, dim, cell
  count, and a digest of the centroid table. Every ingest and every
  query re-derives the digest from the stored centroids and refuses
  on drift — a tampered/partially-rewritten centroid table would
  otherwise silently re-route probes.
- ``{root}/postings/batch_id=B/cell=N/`` — the vectors, Parquet
  partitioned by batch THEN cell, so a top-k probe prunes on
  ``cell IN (nprobe of L)`` inside every committed batch while batch
  visibility stays the invisible-set complement on the first level.
- ``{root}/_manifests/{batch_id}.json`` — written LAST: the commit.
  Same snapshot cache, supersession compaction, writer lease + fence,
  and crash recovery as the corpus — all reused from plans/corpus.

Delta vectors are routed to cells by NEAREST FROZEN CENTROID (the
same mean-scaled exact-integer score the query-time cell ranking
uses, so placement and probing can never disagree); a batch may
instead carry precomputed cells (``cell_col``) when an upstream
clustering owns placement — the manifest records which
(``cell_source``), and the fsck re-derives placement only where the
nearest-centroid rule is the contract.

Reference parity: the reference rebuilds its whole search structure
per run; operators/similarity.write_ivf_index is this engine's
one-shot restatement of that, and this module is its production
shape (same argument as plans/ann_index.py's module docstring).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fs import delete_path, path_exists, read_text, write_text_atomic
from ..operators.similarity import EMB_DIM, TOP_K, _fixed_point
from .ann_index import _retain_vectors
from .corpus import (BatchAlreadyIngested, _load_manifests,
                     _manifest_path, _next_seq_id, _superseded,
                     _visible_scan, _write_snapshot, corpus_writer_lock)

IVF_TABLE = "postings"
CENTROIDS_TABLE = "centroids"
META_NAME = "_meta.json"
# split for the exact hi/lo integer dot against centroid SUMS (their
# components reach nv·2^34, past the per-vector default) — the same
# constant operators/similarity.ivf_search_topk uses for this fold.
CSUM_SPLIT = 1 << 20


STORAGES = ("float", "int8")


def _ivf_schema(dim: int, storage: str = "float") -> str:
    if storage == "int8":
        from .codes import CODE_COLS
        return (f"vec_id BIGINT, {CODE_COLS}, "
                f"cell BIGINT, batch_id STRING")
    return ("vec_id BIGINT, embedding ARRAY<FLOAT>, "
            "cell BIGINT, batch_id STRING")


def _schema_of(meta: dict) -> str:
    return _ivf_schema(meta["dim"], meta.get("storage", "float"))


def _meta_path(root: str) -> str:
    return f"{root}/{META_NAME}"


def _load_meta(spark: SparkSession, root: str) -> dict:
    from ..fs import read_json_doc
    doc = read_json_doc(spark, _meta_path(root))   # memoized (fs.py)
    if doc is None:
        raise ValueError(
            f"incremental IVF root {root} has no {META_NAME} — not an "
            f"initialized index (init_ivf_index creates it)")
    return dict(doc)   # shallow copy: the cached doc is shared


def _centroid_digest(rows) -> str:
    """Digest of the frozen quantizer: canonical JSON of the sorted
    (cell, component sums, count) rows. Exact integers only, so the
    digest is engine- and run-independent."""
    import hashlib

    canon = sorted((int(r.cell), [int(s) for s in r.csum], int(r.nv))
                   for r in rows)
    return hashlib.md5(
        json.dumps(canon, separators=(",", ":")).encode()).hexdigest()


# Per-process memo of the frozen centroid rows, revalidated on every
# hit by the centroid table's FILE LISTING (names, mtimes, lengths —
# one listStatus call, no Spark job) plus the meta's centroid_digest.
# Any rewrite of the table — including the out-of-band tamper the
# digest guard exists to catch — produces new files, so a changed
# listing misses the cache, re-reads, and re-derives the digest (the
# tamper test still trips). Without the memo every single-query probe
# and every chunk of a chunked batch probe paid one parquet-read +
# collect job to re-fetch a table that is frozen by contract
# (measured ~0.1-0.3 s per probe at bench scale, ×8 chunks on the
# batch128 legs). Bounded like fs._JSON_DOC_CACHE: tests churn
# thousands of throwaway roots; probes hit the same few.
_CENTROIDS_CACHE: "dict[str, tuple[tuple, str, list]]" = {}
_CENTROIDS_CACHE_MAX = 16


# Per-process memo of the centroid broadcast that _attach_cells ships
# to its tasks, keyed by (root, digest of the centroid rows) and
# bounded like _CENTROIDS_CACHE. The rows come from _load_centroids,
# which revalidates them on every call; the digest key is taken from
# the rows themselves, so a hit always broadcasts the exact rows
# passed in. Repeated ingests into one root thus ship one broadcast,
# and the process holds at most _CENTROIDS_CACHE_MAX of them: an
# evicted handle is destroyed.
_CENTROID_BCAST: "dict[tuple, tuple]" = {}


def _centroid_broadcast(sc, root: "str | None", cent_rows, build):
    """The memoized broadcast of ``build()`` for these centroid rows
    (see _CENTROID_BCAST); a broadcast of a stopped context never
    hits."""
    key = (root, _centroid_digest(cent_rows))
    hit = _CENTROID_BCAST.pop(key, None)
    if hit is not None and hit[0] is sc:
        _CENTROID_BCAST[key] = hit   # LRU
        return hit[1]
    if len(_CENTROID_BCAST) >= _CENTROIDS_CACHE_MAX:
        old_sc, old_bc = _CENTROID_BCAST.pop(next(iter(_CENTROID_BCAST)))
        if old_sc is sc:
            old_bc.destroy()
    bc = sc.broadcast(build())
    _CENTROID_BCAST[key] = (sc, bc)
    return bc


def _centroid_table_sig(spark: SparkSession, root: str) -> "tuple | None":
    """(name, mtime, length) listing signature of the centroid
    table, or None when the listing failed (absent table or a
    transient store error). None NEVER matches and is NEVER cached
    (r16 ADVICE low: the old constant error sentinel was itself an
    insertable signature — a transient listing failure at insert
    time followed by one at hit time after an out-of-band rewrite
    would false-hit and serve stale rows past the digest guard)."""
    from ..fs import _fs

    fs, p = _fs(spark, f"{root}/{CENTROIDS_TABLE}")
    try:
        return tuple(sorted(
            (st.getPath().getName(), int(st.getModificationTime()),
             int(st.getLen()))
            for st in fs.listStatus(p)))
    except Exception:   # absent table → unique miss, read path raises
        return None


def _load_centroids(spark: SparkSession, root: str,
                    meta: dict) -> list:
    """The frozen centroid rows, digest-VALIDATED against ``_meta``:
    a centroid table that drifted from the one the index was built
    under would silently re-route every probe, the exact failure
    class the one-shot index's sidecar guards against. Memoized per
    process, revalidated by file listing + digest — see
    _CENTROIDS_CACHE. While the newest listed mtime is inside the
    store's mtime-granularity window the hit is NOT trusted (r16
    VERDICT #5, mirroring fs.read_json_doc): an out-of-band
    same-name same-length rewrite can land within one mtime tick
    and slip the listing signature, so a just-written table always
    re-reads and re-digests; steady-state probes (tables older than
    the window) keep the zero-read hit path."""
    import time

    from ..fs import _JSON_DOC_RECENT_MS

    want = meta.get("centroid_digest")
    sig = _centroid_table_sig(spark, root)
    hit = _CENTROIDS_CACHE.get(root)
    if (hit is not None and sig is not None and hit[0] == sig
            and hit[1] == want
            and time.time() * 1000
            - max((m for _, m, _ in sig), default=0)
            > _JSON_DOC_RECENT_MS):
        _CENTROIDS_CACHE[root] = _CENTROIDS_CACHE.pop(root)  # LRU
        return hit[2]
    rows = (spark.read.parquet(f"{root}/{CENTROIDS_TABLE}")
            .select("cell", "csum", "nv").collect())
    digest = _centroid_digest(rows)
    if digest != want:
        raise ValueError(
            f"centroid table under {root} does not match the frozen "
            f"quantizer this index was initialized with (stored "
            f"digest {want}, recomputed "
            f"{digest}) — probing would silently mis-route cells")
    _CENTROIDS_CACHE.pop(root, None)
    if sig is not None:   # an unlistable table is never cached
        if len(_CENTROIDS_CACHE) >= _CENTROIDS_CACHE_MAX:
            _CENTROIDS_CACHE.pop(next(iter(_CENTROIDS_CACHE)))
        _CENTROIDS_CACHE[root] = (sig, want, rows)
    return rows


def init_ivf_index(spark: SparkSession, root: str, train: DataFrame,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   cell_col: str = "label",
                   dim: int = EMB_DIM,
                   train_k: "int | str | None" = None,
                   train_iters: int | None = None,
                   train_metric: str = "l2",
                   storage: str = "float",
                   train_normalize: bool = False) -> dict:
    """TRAIN-ONCE: freeze the coarse quantizer from a labeled
    training frame (per-cell exact int64 nano-unit component sums +
    counts — the same wide aggregate the one-shot
    ``write_ivf_index`` runs) and initialize an empty incremental
    index. Ingest content separately via :func:`ivf_ingest_delta`
    (the training sample need not be index content — standard IVF
    practice at scale is to train on a sample). Returns the meta.

    UNLABELED frames (VERDICT r10 brief #1): pass ``train_k`` and
    the labels come from the deterministic distributed k-means
    trainer (:func:`plans.kmeans.train_centroids`) run on ``train``
    — no caller-side clustering required. ``train_iters`` caps the
    Lloyd iterations (trainer default otherwise).
    ``train_k="auto"`` (r11 brief #5) sizes k from the training
    count by :func:`plans.kmeans.suggest_k`'s √N convention.
    ``train_metric="dot"`` (r11 brief #1) trains with the index's
    OWN placement rule (argmax mean-scaled centroid dot) so training
    labels equal serve-time placement on any data — recommended for
    new indexes; the "l2" default preserves historical behavior.

    ``storage="int8"`` (r11 brief #3) stores postings as symmetric
    int8 codes + per-vector scale (plans/codes.py — ~4× smaller on
    disk, measured by the fsck's ``table_bytes``) instead of float
    embeddings; placement/routing still computes from the original
    embeddings at ingest, probes score the exact scale-free code
    cosine and optionally exact-rerank a short candidate list
    against caller-supplied float vectors.

    ``train_normalize=True`` (r12 brief #3): the trainer runs TRUE
    spherical k-means (``kmeans.train_centroids(normalize=True)``)
    and the frozen centroids here aggregate the SAME unit-normed
    directions — the mean-dot placement rule is scale-invariant in
    the probed/ingested vector, so serve-time routing of raw
    embeddings is consistent with direction-trained centroids while
    the training objective stops being norm-biased. Recorded in
    ``_meta`` for provenance; pair with ``train_metric="dot"``."""
    if storage not in STORAGES:
        raise ValueError(f"storage must be one of {STORAGES}, "
                         f"got {storage!r}")
    if train_k is not None:
        from .kmeans import DEFAULT_ITERS, suggest_k, train_centroids

        if train_k == "auto":
            train_k = suggest_k(train.count())
        train = train_centroids(
            spark, train, k=train_k,
            n_iters=(train_iters if train_iters is not None
                     else DEFAULT_ITERS),
            id_col=id_col, vec_col=vec_col, dim=dim,
            metric=train_metric,
            normalize=train_normalize)["labeled"]
        id_col, vec_col, cell_col = "vec_id", "embedding", "label"
    with corpus_writer_lock(spark, root, op="ivf_init") as lease:
        if path_exists(spark, _meta_path(root)):
            raise ValueError(
                f"incremental IVF root {root} is already initialized "
                f"— the quantizer is frozen by contract (build a new "
                f"root to re-train)")
        ci_col = _fixed_point(_checked_dim(F.col(vec_col), dim,
                                           "init_ivf_index"))
        if train_normalize:
            from .kmeans import unit_fixed
            ci_col = unit_fixed(ci_col)
        dec = train.select(
            F.col(cell_col).cast("bigint").alias("cell"),
            ci_col.alias("ci"))
        cents = (dec.groupBy("cell")
                 .agg(F.array(*[F.sum(F.element_at("ci", i + 1))
                                for i in range(dim)]).alias("csum"),
                      F.count("*").cast("bigint").alias("nv")))
        cents.coalesce(1).write.mode("overwrite").parquet(
            f"{root}/{CENTROIDS_TABLE}")
        rows = (spark.read.parquet(f"{root}/{CENTROIDS_TABLE}")
                .select("cell", "csum", "nv").collect())
        meta = {"kind": "ivf_incremental", "dim": dim,
                "n_cells": len(rows),
                "storage": storage,
                "centroid_digest": _centroid_digest(rows)}
        if train_normalize:
            meta["train_normalize"] = True   # provenance (r12 #3)
        lease.fence()
        write_text_atomic(spark, _meta_path(root),
                          json.dumps(meta, sort_keys=True))
        return meta


def _checked_dim(col, dim: int, what: str):
    """Embedding column with the per-row dimensionality guard of
    ``operators.similarity.lsh_buckets`` (ADVICE r9): ``zip_with``
    NULL-pads a wrong-length vector, its centroid dots fold to NULL,
    and ``max_by`` over a NULL score deterministically dumps the row
    into the lowest cell id — stored, never probed (its re-rank
    cosine is NULL), and invisible to the fsck because the placement
    re-derivation NULL-folds identically. Fail loudly at execution
    instead."""
    return F.when(F.size(col) == dim, col).otherwise(
        F.raise_error(F.concat(
            F.lit(f"{what}: expected {dim}-dim embedding, got "),
            F.size(col).cast("string"))))


def _cell_scores(delta: DataFrame, cents: DataFrame,
                 dim: int = EMB_DIM):
    """(vec_id, cell, score) for every delta vector × centroid —
    score is the EXACT-integer mean-scaled centroid dot as a double,
    the same value the driver-side query ranking computes (Python
    arbitrary-precision int == the hi/lo int64 fold), so placement
    and probing can never disagree. Wrong-dim rows raise per row
    (:func:`_checked_dim`) rather than mis-placing silently."""
    from ..queries.similarity import _fixed_dot

    return (delta.select("vec_id",
                         _fixed_point(_checked_dim(
                             F.col("embedding"), dim,
                             "ivf cell scoring")).alias("ci"))
            .crossJoin(F.broadcast(cents))
            .select("vec_id", "cell",
                    (_fixed_dot("ci", "csum", split=CSUM_SPLIT)
                     .cast("double")
                     / (F.col("nv") * F.lit(1e18))).alias("score")))


def _attach_cells(delta: DataFrame, cent_rows, dim: int,
                  root: "str | None" = None) -> DataFrame:
    """``delta`` columns + assigned ``cell``, computed IN-ROW: one
    Arrow-batched ``mapInPandas`` pass whose task holds the frozen
    centroid matrix and argmaxes the mean-scaled centroid dots in
    numpy — a pure map, so the ingest write job carries ZERO
    exchanges for placement. The former shape
    (``_cell_scores`` crossJoin → groupBy(vec_id) max_by → join back
    onto the delta) paid two Exchange pairs per ingest purely to
    glue the argmax onto rows it was derived from (guide §2.4 remove
    shuffles / §4.2 hand batches to vectorized native code).

    BIT-PARITY with the JVM fold and the driver ranking, term by
    term (pinned by the fsck's independent ``_cell_scores``
    re-derivation and the ingest tests):

    - components: ``floor(float64(x) · 1e9 + 0.5) → int64`` — the
      same IEEE ops as ``_fixed_point``;
    - dot: the ``_fixed_dot`` hi/lo split at CSUM_SPLIT as two int64
      matmuls (int64 addition wraps two's-complement in BOTH engines
      and is commutative mod 2^64, so summation order is free),
      recombined exactly in Python ints;
    - score: ``float(exact) / (float(nv) · 1e18)`` — Python float()
      of an int and BigDecimal.doubleValue are both correctly
      rounded, and the divide is the same IEEE double op;
    - tie-break: centroid columns sorted by cell ascending +
      ``argmax`` (first max) ≡ ``max_by(cell, struct(score, -cell))``.

    Wrong-dim rows fail loudly (the stacked matrix's width check),
    matching ``_checked_dim``'s contract.

    The centroid arrays ride to executors as ONE ``sc.broadcast``
    (r17, VERDICT r16 #4; guide §3.2): closure capture pickled the
    (cells, lo/hi, denom) matrices into the serialized command and
    re-shipped them with EVERY task — immaterial at toy K, a
    K·dim-sized per-task tax once the quantizer has thousands of
    cells. The broadcast ships once per executor and is torrent-
    distributed; task closures carry only the handle. The handle is
    memoized per ``root`` and centroid digest (_CENTROID_BCAST), so
    repeated ingests into one root reuse one broadcast."""
    import numpy as np

    s = CSUM_SPLIT

    def matrices():
        cells_sorted = sorted(
            (int(r.cell), [int(v) for v in r.csum], int(r.nv))
            for r in cent_rows)
        cells = np.array([c for c, _, _ in cells_sorted], dtype=np.int64)
        csum = np.array([v for _, v, _ in cells_sorted], dtype=np.int64)
        denom = np.array([v for _, _, v in cells_sorted],
                         dtype=np.float64) * 1e18
        lo_t = np.mod(csum, s).T.copy()                  # (dim, k)
        hi_t = ((csum - np.mod(csum, s)) // s).T.copy()
        return cells, lo_t, hi_t, denom

    bc = _centroid_broadcast(delta.sparkSession.sparkContext, root,
                             cent_rows, matrices)
    from pyspark.sql.types import LongType, StructField, StructType

    # a NEW StructType: StructType.add would mutate the DataFrame's
    # cached schema object in place
    out_schema = StructType(list(delta.schema.fields)
                            + [StructField("cell", LongType())])

    def assign(it):
        import pandas as pd  # noqa: F401 — worker-side import

        b_cells, b_lo_t, b_hi_t, b_denom = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            emb = np.vstack(pdf["embedding"].to_numpy())
            if emb.shape[1] != dim:
                raise ValueError(
                    f"ivf cell scoring: expected {dim}-dim "
                    f"embedding, got {emb.shape[1]}")
            ci = np.floor(emb.astype(np.float64) * 1e9
                          + 0.5).astype(np.int64)
            lo = ci @ b_lo_t
            hi = ci @ b_hi_t
            exact = hi.astype(object) * s + lo
            score = exact.astype(np.float64) / b_denom
            out = pdf.copy()
            out["cell"] = b_cells[score.argmax(axis=1)]
            yield out

    return delta.mapInPandas(assign, schema=out_schema)


def assign_cells(spark: SparkSession, root: str,
                 delta: DataFrame) -> DataFrame:
    """(vec_id, cell): nearest frozen centroid per delta vector —
    the centroid matrix rides into each task (driver-known, tiny)
    and the per-row argmax (max score, ties to the LOWER cell id,
    mirroring the query ranking's sort) runs in one Arrow-batched
    numpy map (:func:`_attach_cells`). Zero shuffles; never moves
    anything corpus-sized."""
    meta = _load_meta(spark, root)
    return _attach_cells(
        delta.select("vec_id", "embedding"),
        _load_centroids(spark, root, meta),
        meta["dim"], root).select("vec_id", "cell")


def committed_ivf_batches(spark: SparkSession, root: str) -> list[str]:
    ms = _load_manifests(spark, root)
    gone = _superseded(ms)
    return sorted(b for b in ms if b not in gone)


def read_ivf_postings(spark: SparkSession, root: str) -> DataFrame:
    """Every committed posting row, in the root's STORED layout
    (float: vec_id, embedding, cell, batch_id; int8: vec_id, code,
    scale, cell, batch_id) — visibility identical to the corpus
    reader. For a storage-independent (vec_id, embedding) view use
    :func:`ivf_vectors`."""
    meta = _load_meta(spark, root)
    committed = committed_ivf_batches(spark, root)
    path = f"{root}/{IVF_TABLE}"
    if not committed or not path_exists(spark, path):
        return spark.createDataFrame([], _schema_of(meta))
    return _visible_scan(spark, path, committed, _schema_of(meta))


def read_ivf_cells(spark: SparkSession, root: str,
                   cells: "list[int]",
                   parallelism: "str | None" = "bytes") -> DataFrame:
    """:func:`read_ivf_postings` scoped to a driver-known probed
    cell set — the PROBE reader (r15, the LSH twin is
    ann_index.read_ann_buckets): only the ``batch_id=B/cell=K``
    leaf directories of the probe set are handed to the scan
    (corpus._visible_scan_keys), so an nprobe-cell probe lists
    nprobe × batches directories instead of the whole
    n_cells × batches tree. Rows are identical to
    ``read_ivf_postings(...).filter(cell IN cells)``
    (parity-pinned). ``parallelism``: task-count bound of the
    pruned scan — ``"bytes"`` (default; single-query probes) tracks
    file bytes, ``None`` (batch fan-outs, whose per-byte scoring
    work is ~Q×) keeps Spark's splitting — see
    ``corpus._visible_scan_keys``."""
    from .corpus import _visible_scan_keys

    meta = _load_meta(spark, root)
    committed = committed_ivf_batches(spark, root)
    path = f"{root}/{IVF_TABLE}"
    if not committed or not path_exists(spark, path):
        return spark.createDataFrame([], _schema_of(meta))
    return _visible_scan_keys(spark, path, committed,
                              _schema_of(meta), "cell", cells,
                              parallelism)


def ivf_vectors(spark: SparkSession, root: str) -> DataFrame:
    """(vec_id, embedding) for every committed vector, whatever the
    storage: float roots project the stored column, int8 roots
    DEQUANTIZE (plans/codes.dequant_embedding — lossy by exactly the
    sim5 reconstruction error). What training, recall grading, and a
    cross-storage migration read."""
    meta = _load_meta(spark, root)
    scan = read_ivf_postings(spark, root)
    if meta.get("storage", "float") == "int8":
        from .codes import dequant_embedding
        return scan.select(
            "vec_id",
            dequant_embedding(F.col("code"), F.col("scale"))
            .alias("embedding"))
    return scan.select("vec_id", "embedding")


def ivf_ingest_delta(spark: SparkSession, root: str, emb: DataFrame,
                     batch_id: str, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     cell_col: str | None = None,
                     dedup_ids: bool = True,
                     corpus_batch: "str | list[str] | None" = None,
                     _crash_after: str | None = None,
                     manifest_extra: dict | None = None) -> dict:
    """Append a vector delta under the manifest-last commit protocol.
    Cells come from the frozen quantizer (``cell_col=None``, the
    production default) or from a caller-provided column (an upstream
    clustering owns placement — values must be known cells).
    ``corpus_batch`` records provenance for the cross-root fsck
    (plans/linkage.verify_linked); ``manifest_extra`` merges caller
    metadata (protocol keys refused — ann_index.
    _merge_manifest_extra). Returns the committed manifest."""
    if batch_id.startswith(("compact-", "retain-")):
        raise ValueError(
            f"batch_id {batch_id!r} uses a reserved maintenance prefix")
    with corpus_writer_lock(spark, root,
                            op=f"ivf_ingest:{batch_id}") as lease:
        return _ivf_ingest_delta(spark, root, emb, batch_id, id_col,
                                 vec_col, cell_col, dedup_ids,
                                 corpus_batch, _crash_after, lease,
                                 manifest_extra)


def _ivf_ingest_delta(spark: SparkSession, root: str, emb: DataFrame,
                      batch_id: str, id_col: str, vec_col: str,
                      cell_col: str | None, dedup_ids: bool,
                      corpus_batch: "str | list[str] | None",
                      _crash_after: str | None, lease,
                      manifest_extra: dict | None = None) -> dict:
    meta = _load_meta(spark, root)
    cent_rows = _load_centroids(spark, root, meta)
    known_cells = sorted(int(r.cell) for r in cent_rows)

    ms = _load_manifests(spark, root)
    if batch_id in ms or batch_id in _superseded(ms):
        raise BatchAlreadyIngested(
            f"batch_id {batch_id!r} already ingested under {root} "
            f"(manifest {_manifest_path(root, batch_id)})")
    committed = sorted(b for b in ms if b not in _superseded(ms))
    path = f"{root}/{IVF_TABLE}"
    delete_path(spark, f"{path}/batch_id={batch_id}")

    # dim-check the stored column itself so the PROVIDED-cell path is
    # guarded too (its rows never pass through _cell_scores, but a
    # wrong-dim vector would still be unprobeable: NULL re-rank cosine)
    storage = meta.get("storage", "float")
    emb_cast = F.col(vec_col).cast("array<float>")
    cols = [F.col(id_col).alias("vec_id"),
            _checked_dim(emb_cast, meta["dim"],
                         f"ivf_ingest_delta({batch_id})")
            .alias("embedding")]
    if cell_col is not None:
        cols.append(F.col(cell_col).cast("bigint").alias("cell"))
    if (storage == "int8" and "code" in emb.columns
            and "scale" in emb.columns):
        # codes arriving WITH the delta (an int8→int8 migration)
        # are stored verbatim — no double-quantization loss
        cols += [F.col("code").cast("array<tinyint>").alias("code"),
                 F.col("scale").cast("bigint").alias("scale")]
    delta = emb.select(*cols)
    n_input = delta.count()
    if dedup_ids and committed and path_exists(spark, path):
        ids = _visible_scan(spark, path, committed,
                            _schema_of(meta)).select("vec_id")
        delta = delta.join(ids, "vec_id", "left_anti")
    delta = delta.localCheckpoint()
    n_admitted = delta.count()
    lease.renew()

    if cell_col is not None:
        n_unknown = (delta.filter(
            ~F.col("cell").isin(known_cells)
            | F.col("cell").isNull()).count())
        if n_unknown:
            raise ValueError(
                f"{n_unknown} delta rows carry a cell outside the "
                f"frozen quantizer's {meta['n_cells']} cells — they "
                f"would be stored but never probed")
        tagged = delta
    else:
        # in-row numpy argmax (zero exchanges) — the crossJoin →
        # groupBy → join-back shape this replaces paid two Exchange
        # pairs per ingest; parity notes on _attach_cells
        tagged = _attach_cells(delta, cent_rows, meta["dim"], root)
    tagged = tagged.withColumn("batch_id", F.lit(batch_id))

    if storage == "int8":
        # placement above used the ORIGINAL embedding; only the
        # STORED columns compress (plans/codes module docstring)
        from .codes import attach_codes
        stored = attach_codes(
            tagged, meta["dim"],
            f"ivf_ingest_delta({batch_id})").select(
            "vec_id", "code", "scale", "cell", "batch_id")
    else:
        stored = tagged.select("vec_id", "embedding", "cell",
                               "batch_id")
    if n_admitted:
        (stored.repartition(F.col("cell"))
         .write.mode("append").partitionBy("batch_id", "cell")
         .parquet(path))
    if _crash_after == IVF_TABLE:
        raise RuntimeError(
            f"injected crash after {IVF_TABLE} write (batch {batch_id})")

    manifest = {"batch_id": batch_id, "n_input": n_input,
                "n_id_dupes": n_input - n_admitted,
                "n_admitted": n_admitted,
                "cell_source": ("provided" if cell_col is not None
                                else "assigned")}
    if corpus_batch is not None:
        manifest["corpus_batch"] = corpus_batch
    from .ann_index import _merge_manifest_extra
    manifest = _merge_manifest_extra(manifest, manifest_extra)
    lease.fence()
    # direction-box widening BEFORE the manifest commit (and AFTER
    # the fence, so a zombie writer can never clobber a new lease
    # holder's stats): a crash here leaves a sound superset box
    # (plans/cellstats module docstring). Bounds come from the
    # `stored` lineage over the CHECKPOINTED delta: re-executing the
    # assignment used to mean a second centroid crossJoin (measured
    # 2.4× on the sf1 ingest leg — hence the old read-back of final
    # bytes), but since r16 the assignment is one in-row numpy map
    # (_attach_cells), so the re-run is a cheap fold over
    # checkpointed rows while the read-back re-listed and re-read
    # the per-cell tiny files every ingest (0.96 → 0.36 s at sf0.1
    # on the ANN twin; at scale a full delta re-read from storage).
    # Values identical: deterministic maps over a pinned input,
    # lossless parquet round-trip for float32/int8/bigint.
    if n_admitted:
        from .cellstats import widen_stats
        widen_stats(spark, root, stored, "cell", storage,
                    meta["dim"])
    write_text_atomic(spark, _manifest_path(root, batch_id),
                      json.dumps(manifest, sort_keys=True))
    _write_snapshot(spark, root, {**ms, batch_id: manifest})
    return manifest


def ivf_incremental_topk(spark: SparkSession, root: str,
                         query_vec: list, k: int = TOP_K,
                         nprobe: int = 2,
                         exclude_id: int | None = None,
                         rerank_vectors: DataFrame | None = None,
                         rerank_cut: int = 4,
                         early_exit: "bool | str" = False
                         ) -> DataFrame:
    """Top-k cosine over the COMMITTED index: rank cells DRIVER-SIDE
    against the frozen centroids (exact arbitrary-precision integer
    dots — identical to the executor-side placement score), then scan
    the posting lists with a literal ``cell IN (nprobe)`` predicate —
    static directory pruning inside every committed batch, zero
    exchanges; batch visibility adds at most a NOT IN over the
    (normally empty) invisible set. Scoring is the exact fixed-point
    cosine re-rank of the one-shot ``ivf_indexed_topk``, so for equal
    committed content the two return identical rows. ``root`` may be
    a pointer file written by a migration cutover
    (plans/migration.set_index_pointer) — resolved transparently —
    or an :class:`migration.IndexPointerHandle` whose cached
    resolution serves high-QPS probe loops without per-probe FS
    reads.

    int8 roots (r11 brief #3) score the exact SCALE-FREE code cosine
    over the pruned codes scan; pass ``rerank_vectors`` (a
    (vec_id, embedding) float source — the corpus, or the embeddings
    the index was built from) to take a top-(``rerank_cut``·k) cut
    on code scores and exact-rerank ONLY those candidates with the
    full fixed-point cosine (plans/codes module docstring).

    ``early_exit=True`` (r12 brief #1; reshaped r14 per VERDICT r13
    #2) SKIPS probed cells whose direction-box upper bound
    (plans/cellstats) provably cannot reach the top-k — result rows
    are IDENTICAL by the bound's soundness (test-pinned at every
    fan-out); the win is the skipped posting lists' SCAN WORK. Two
    modes:

    - ``True`` / ``"box"`` (default mode): the threshold is the
      seed cell's own box LOWER bound — pure driver arithmetic over
      the stats sidecar, ZERO extra jobs, so the early-exit plan is
      the plain plan with a (possibly) smaller literal IN-list:
      never slower, idle or busy. On the clustered bench fixture it
      prunes the same 3-of-4 separated cells the seeded threshold
      does.
    - ``"seed"``: the r13 two-phase shape — box prune first, then
      score the seed cell, collect its top-m (one driver
      round-trip, a second sequential job), and prune against the
      MEASURED m-th cosine, which is ≥ the box floor and prunes a
      superset. Cost model (measured r13): task-seconds ~4× down;
      wall 2.6× down under CONSTRAINED slots (local[4]) but ~2×
      UP on an idle local[32] (the seed barrier) — use it when the
      cluster is busy and the box floor alone is too loose.

    Both are no-ops on roots without committed stats. OFF by
    default because on a uniform distribution the boxes are loose
    and neither threshold prunes anything."""
    import math

    from .migration import resolve_probe_location

    root = resolve_probe_location(spark, root)
    meta = _load_meta(spark, root)
    dim = meta["dim"]
    if len(query_vec) != dim:
        raise ValueError(
            f"expected {dim}-dim query vector, got {len(query_vec)}")
    qci = [math.floor(float(x) * 1000000000.0 + 0.5)
           for x in query_vec]
    qsq = float(sum(c * c for c in qci)) / 1e18

    ranked = sorted(
        ((float(sum(int(s) * q for s, q in zip(r.csum, qci)))
          / (r.nv * 1e18), int(r.cell))
         for r in _load_centroids(spark, root, meta)),
        key=lambda t: (-t[0], t[1]))
    probe_cells = [c for _, c in ranked[:nprobe]]

    storage = meta.get("storage", "float")
    # probe reader (r15): the probed cells are a driver literal
    # list — scope the scan's file index to their leaf dirs; the
    # inner cell filters (early-exit kept-sets, the plain IN) keep
    # their semantics within it
    scan = read_ivf_cells(spark, root, probe_cells)
    from .cellstats import normalize_mode
    ee_mode = normalize_mode(early_exit)
    stats = None
    if ee_mode and len(probe_cells) > 1:
        from .cellstats import load_stats, payload_column
        stats = load_stats(spark, root)
        if stats is not None and \
                stats["payload"] != payload_column(storage)[0]:
            stats = None   # fsck names this drift; probe stays exact
    m = (rerank_cut * k
         if storage == "int8" and rerank_vectors is not None else k)
    if stats is not None:
        from .cellstats import early_exit_scored
        scored, _ = early_exit_scored(
            stats, scan, "cell", probe_cells, qci, qsq, m,
            lambda s: _ivf_scores(s, qci, qsq, exclude_id, storage),
            mode=ee_mode,
            excluded=0 if exclude_id is None else 1)
    else:
        scored = _ivf_scores(
            scan.filter(F.col("cell").isin(probe_cells)),
            qci, qsq, exclude_id, storage)
    ranked_rows = scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
    if storage == "int8":
        return _code_rerank_tail(ranked_rows, qci, qsq, k,
                                 rerank_vectors, rerank_cut)
    return ranked_rows.limit(k)


def _ivf_scores(scan: DataFrame, qci: list, qsq: float,
                exclude_id: int | None, storage: str) -> DataFrame:
    """UNSORTED exact scored rows (vec_id, cosine, cell) of an
    already cell-pruned scan — the single scoring expression behind
    ``_ivf_rerank`` (float) and the codes-only probe (int8),
    factored out so the plain and the EARLY-EXIT probes rank
    literally the same values (cellstats.early_exit_scored)."""
    if exclude_id is not None:
        scan = scan.filter(F.col("vec_id") != exclude_id)
    qarr = F.array(*[F.lit(c).cast("bigint") for c in qci])
    if storage == "int8":
        from .codes import code_cosine
        return scan.select(
            "vec_id",
            code_cosine(qarr, F.col("code"), F.lit(qsq))
            .alias("cosine"),
            F.col("cell").cast("bigint").alias("cell"))
    from ..queries.similarity import _fixed_dot

    dec = scan.select("vec_id", "cell",
                      _fixed_point(F.col("embedding")).alias("ci"),
                      qarr.alias("qci"))
    scored = dec.select(
        "vec_id", "cell",
        (_fixed_dot("ci", "qci").cast("double") / F.lit(1e18))
        .alias("dot"),
        (_fixed_dot("ci", "ci").cast("double") / F.lit(1e18))
        .alias("nsq"))
    # nsq > 0 guard: a stored ZERO vector is legal (cellstats module
    # docstring) and must fold to NULL cosine (ranked last), not an
    # ANSI DIVIDE_BY_ZERO that kills the whole probe
    cosine = F.when(F.col("nsq") > 0, F.round(
        F.col("dot") / (F.sqrt(F.col("nsq")) * F.sqrt(F.lit(qsq))),
        9))
    return scored.select("vec_id", cosine.alias("cosine"),
                         F.col("cell").cast("bigint").alias("cell"))


def _code_rerank_tail(ranked: DataFrame, qci: list, qsq: float,
                      k: int, rerank_vectors: DataFrame | None,
                      rerank_cut: int) -> DataFrame:
    """The int8 probe tail over an already RANKED code-cosine frame:
    the code-ranked top-k directly (the cosine IS the exact cosine
    of the dequantized vectors), or an exact rerank of the
    ``rerank_cut``·k candidate slice against the caller's float
    vectors — the candidate list is probe-sized, so the fetch is a
    broadcast join; point ``rerank_vectors`` at an id-prunable
    source at scale."""
    if rerank_vectors is None:
        # column order matches _ivf_rerank / the batch probes
        # (vec_id, cosine, cell) so positional consumers and
        # cross-storage unions never see cell/cosine swapped
        # (ADVICE r12)
        return ranked.select("vec_id", "cosine", "cell").limit(k)
    cand = ranked.limit(rerank_cut * k).select("vec_id", "cell")
    fetch = (rerank_vectors.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("embedding").cast("array<float>").alias("embedding"))
        .join(F.broadcast(cand), "vec_id"))
    return _ivf_rerank(fetch, qci, qsq, k, None)


def _ivf_code_topk(scan: DataFrame, qci: list, qsq: float, k: int,
                   exclude_id: int | None,
                   rerank_vectors: DataFrame | None,
                   rerank_cut: int) -> DataFrame:
    """Top-k over an already cell-pruned int8 codes scan: exact
    scale-free code cosine (plans/codes.code_cosine), then the
    shared rerank tail (:func:`_code_rerank_tail`)."""
    ranked = (_ivf_scores(scan, qci, qsq, exclude_id, "int8")
              .orderBy(F.desc("cosine"), F.asc("vec_id")))
    return _code_rerank_tail(ranked, qci, qsq, k, rerank_vectors,
                             rerank_cut)


def _ivf_rerank(scan: DataFrame, qci: list, qsq: float, k: int,
                exclude_id: int | None) -> DataFrame:
    """Exact fixed-point cosine re-rank over an already cell-pruned
    (vec_id, embedding, cell) scan — shared by the committed and the
    pinned probe so scoring can never drift."""
    return (_ivf_scores(scan, qci, qsq, exclude_id, "float")
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(k))


def _ivf_batch_score(cand: DataFrame, storage: str) -> DataFrame:
    """(qid, vec_id, cosine, cell) exact per-pair scores over a
    fanned-out candidate frame carrying (qid, vec_id, cell, qci,
    code|embedding) — the single scoring expression behind the plain
    AND the early-exit batch probes (the batch twin of
    :func:`_ivf_scores`)."""
    from ..queries.similarity import _fixed_dot

    if storage == "int8":
        from .codes import code_cosine
        return cand.select(
            "qid", "vec_id",
            code_cosine(
                F.col("qci"), F.col("code"),
                _fixed_dot("qci", "qci").cast("double") / F.lit(1e18))
            .alias("cosine"),
            F.col("cell").cast("bigint").alias("cell"))
    dec = cand.select(
        "qid", "vec_id", "cell", "qci",
        _fixed_point(F.col("embedding")).alias("ci"))
    rer = dec.select(
        "qid", "vec_id", "cell",
        (_fixed_dot("ci", "qci").cast("double") / F.lit(1e18))
        .alias("dot"),
        (_fixed_dot("ci", "ci").cast("double") / F.lit(1e18))
        .alias("nsq"),
        (_fixed_dot("qci", "qci").cast("double") / F.lit(1e18))
        .alias("qsq"))
    # nsq > 0: stored zero vectors fold to NULL cosine, never an
    # ANSI divide-by-zero (see _ivf_scores)
    cosine = F.when(F.col("nsq") > 0, F.round(
        F.col("dot")
        / (F.sqrt(F.col("nsq")) * F.sqrt(F.col("qsq"))), 9))
    return rer.select("qid", "vec_id", cosine.alias("cosine"),
                      F.col("cell").cast("bigint").alias("cell"))


def _ivf_batch_tail(scored: DataFrame, q: DataFrame, k: int,
                    rerank_vectors: DataFrame | None,
                    rerank_cut: int, storage: str) -> DataFrame:
    """Per-qid top-k window over exact scored pairs, with the
    optional int8 exact-rerank of each query's ``rerank_cut``·k code
    slice (``q`` is the decoded (qid, qci) query frame the rerank
    join needs)."""
    from pyspark.sql import Window

    wk = Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                           F.asc("vec_id"))
    if storage == "int8" and rerank_vectors is not None:
        top = (scored.withColumn("rn", F.row_number().over(wk))
               .filter(F.col("rn") <= rerank_cut * k).drop("rn"))
        fetch = (rerank_vectors.select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("embedding").cast("array<float>").alias("embedding"))
            .join(F.broadcast(top.select("qid", "vec_id", "cell")),
                  "vec_id")
            .join(F.broadcast(q.select("qid", "qci")), "qid"))
        scored = _ivf_batch_score(fetch, "float")
    return (scored.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") <= k).drop("rn"))


def ivf_batch_topk(spark: SparkSession, root: str,
                   queries: DataFrame, k: int = TOP_K,
                   nprobe: int = 2,
                   id_col: str = "qid", vec_col: str = "embedding",
                   exclude_self: bool = True,
                   max_queries_per_job: int | None = None,
                   rerank_vectors: DataFrame | None = None,
                   rerank_cut: int = 4,
                   early_exit: "bool | str" = False,
                   chunk_concurrency: int = 1) -> DataFrame:
    """Top-k cosine for MANY queries in ONE job — the eval/serving
    shape :func:`recall.measure_recall`'s docstring defers to: a
    driver loop issues one small job per query (right for tens),
    but grading or serving thousands wants a single distributed
    plan (VERDICT r10 brief follow-through, r11).

    Per query the result rows equal ``ivf_incremental_topk``'s (same
    exact-integer cell ranking — executor-side here, but the same
    arithmetic folded to the same double — same rerank, same tie
    order; test-pinned). Plan shape:

    1. queries × frozen centroids (both broadcast-sized) → per-query
       top-``nprobe`` cells via one small window;
    2. the postings scan keeps STATIC directory pruning: the probed
       cells' union (≤ L values) is collected and becomes a literal
       ``cell IN (...)`` partition filter;
    3. pruned postings ⋈ broadcast (qid, cell) pairs fan each
       posting row out to ONLY the queries probing its cell, then
       the shared fixed-point rerank scores and a per-qid window
       keeps k — one shuffle of the candidate rows by qid.

    Returns (qid, vec_id, cosine, cell). ``exclude_self`` drops
    ``vec_id == qid`` matches (self-neighborhood grading).
    ``root`` may be a pointer/handle like the single-query probe.

    The (qid, cell) probe frame and the decoded query table are
    BROADCAST — right for the thousands-of-queries serving/grading
    shape, but a million-query batch would blow the broadcast limit:
    pass ``max_queries_per_job`` (r11 brief #6) and the batch
    degrades to a deterministic loop of broadcast-sized jobs over
    qid ranges (each chunk's small result is materialized, then
    unioned) — per-qid results are independent, so chunked ≡
    unchunked row-for-row (test-pinned). ``chunk_concurrency=N``
    (r12 brief #2) overlaps up to N chunks from a bounded driver
    pool (measured 2.6× wall at sf1/128 queries) at the cost of N
    coexisting broadcasts/checkpoints — N× the peak memory the cap
    exists to bound, so the default is 1: strict serial, opt-in
    parallelism (ADVICE r13).

    ``early_exit=True`` (r12 brief #1; reshaped r14): per-QUERY
    posting-list pruning from the direction-box stats — see
    :func:`_ivf_batch_early`; rows identical, the win is every
    (qid, cell) pair whose best-possible cosine provably cannot
    reach that query's top-k. ``True``/``"box"`` derives the
    threshold from each query's rank-1 cell box (zero extra jobs,
    never slower); ``"seed"`` measures it from a materialized seed
    scan (prunes more, pays a barrier)."""
    from pyspark.sql import Window

    from ..queries.similarity import _fixed_dot
    from .migration import resolve_probe_location

    root = resolve_probe_location(spark, root)
    meta = _load_meta(spark, root)
    dim = meta["dim"]
    cents = spark.createDataFrame(
        [(int(r.cell), [int(s) for s in r.csum], int(r.nv))
         for r in _load_centroids(spark, root, meta)],
        "cell BIGINT, csum ARRAY<BIGINT>, nv BIGINT")

    q = queries.select(
        F.col(id_col).cast("bigint").alias("qid"),
        _fixed_point(_checked_dim(F.col(vec_col), dim,
                                  "ivf_batch_topk")).alias("qci"))
    # per-query cell ranking: the same mean-scaled exact-integer dot
    # as _cell_scores / the driver-side single-query ranking (both
    # fold the identical integers to the identical double), ties to
    # the lower cell id
    scored = (q.crossJoin(F.broadcast(cents))
              .select("qid", "qci", "cell",
                      (_fixed_dot("qci", "csum", split=CSUM_SPLIT)
                       .cast("double")
                       / (F.col("nv") * F.lit(1e18))).alias("score")))
    wc = Window.partitionBy("qid").orderBy(F.desc("score"),
                                           F.asc("cell"))
    probe_all = (scored.withColumn("rn", F.row_number().over(wc))
                 .filter(F.col("rn") <= nprobe)
                 .select("qid", "qci", "cell", "rn")
                 .localCheckpoint())
    probe = probe_all.drop("rn")

    storage = meta.get("storage", "float")
    from .cellstats import normalize_mode
    ee_mode = normalize_mode(early_exit)
    stats = None
    if ee_mode and nprobe > 1:
        from .cellstats import load_stats, payload_column
        stats = load_stats(spark, root)
        if stats is not None and \
                stats["payload"] != payload_column(storage)[0]:
            stats = None   # fsck names this drift; probe stays exact
    def _fanout(pairs, cells):
        # probe reader (r15): cells are a driver list by the time a
        # fan-out is built — scope the scan's file index to them.
        # parallelism=None: the fan-out's scoring work is ~Q× per
        # scanned byte, so the single-probe bytes bound would
        # under-parallelize it (measured — _visible_scan_keys notes)
        c = read_ivf_cells(spark, root, cells, parallelism=None) \
            .join(F.broadcast(pairs), "cell")
        return (c.filter(F.col("vec_id") != F.col("qid"))
                if exclude_self else c)

    def _cells_of(pairs):
        # driver-sized collect (≤ L values): the literal cell IN
        # list that buys directory pruning, batch-count-independent
        return sorted({int(r.cell) for r in
                       pairs.select("cell").distinct().collect()})

    if max_queries_per_job:
        # chunked path (r17 reshape, guide §5): the ranking window
        # above ran ONCE for the whole batch — one job, one
        # checkpoint — and the tiny (qid, cell) pairs are collected
        # ONCE, so chunk ranges AND every chunk's literal cell
        # IN-list derive driver-side with zero further control-plane
        # jobs (the former per-chunk recursion re-ran the window, its
        # checkpoint, and a distinct-cells collect inside every
        # chunk). The per-JOB broadcast cap is untouched: only a
        # chunk's filtered pairs and queries are ever broadcast; the
        # window job itself shuffles Q×L unbroadcast rows.
        pairs_rows = probe_all.select("qid", "cell").collect()
        qids = sorted({int(r.qid) for r in pairs_rows})
        if len(qids) > max_queries_per_job:
            from .ann_index import _run_chunks

            def _one(bounds):
                lo, hi = bounds
                within = F.col("qid").between(lo, hi)
                pa = probe_all.filter(within)
                qc = q.filter(within)
                cells = sorted({int(r.cell) for r in pairs_rows
                                if lo <= r.qid <= hi})
                if stats is not None:
                    part = _ivf_batch_early(
                        spark, stats, pa, qc, k, rerank_vectors,
                        rerank_cut, storage, _fanout, _cells_of,
                        ee_mode, excluded=1 if exclude_self else 0,
                        all_cells=cells)
                else:
                    part = _ivf_batch_tail(
                        _ivf_batch_score(
                            _fanout(pa.drop("rn"), cells), storage),
                        qc, k, rerank_vectors, rerank_cut, storage)
                return part.localCheckpoint()
            return _run_chunks(qids, max_queries_per_job, _one,
                               chunk_concurrency)
        # cap not exceeded: the single-job path below, probe frame
        # already built
    if stats is not None:
        return _ivf_batch_early(spark, stats, probe_all, q, k,
                                rerank_vectors, rerank_cut, storage,
                                _fanout, _cells_of, ee_mode,
                                excluded=1 if exclude_self else 0)
    scored = _ivf_batch_score(_fanout(probe, _cells_of(probe)),
                              storage)
    return _ivf_batch_tail(scored, q, k, rerank_vectors, rerank_cut,
                           storage)


def _ivf_batch_early(spark, stats, probe_all, q, k, rerank_vectors,
                     rerank_cut, storage, fanout, cells_of,
                     mode="box", excluded=0, all_cells=None):
    """The batch-probe early exit (r12 brief #1, batch shape) —
    per-QUERY pruning, fully distributed.

    ``mode="box"`` (default since r14 — VERDICT r13 #2): each
    query's threshold is its rank-1 cell's box LOWER bound
    (cellstats.lower_bound_col), gated on that box's ``nz`` nonzero
    count ≥ m — derived entirely from broadcast-joined
    probe-frame-sized frames, NO seed scan, NO materialization
    barrier: the plan stays the plain batch probe's single fan-out
    with a (possibly) smaller surviving-pairs broadcast and
    IN-list, so early exit never costs wall.

    ``mode="seed"`` (the r13 shape — maximal pruning under
    constrained slots):

    1. **seed**: scan only each query's rank-1 cell (the union of
       rank-1 pairs), score, keep each query's top-m, MATERIALIZE;
    2. **L_q** = each query's m-th seed cosine (queries with fewer
       than m non-null seed cosines get no L — unprunable);
    3. **prune pairs**: a rank>1 (qid, cell) pair drops when the
       cell's box upper bound against THAT query
       (cellstats.upper_bound_col — executor-side, boxes broadcast)
       is < L_q: every row it would fan out scores below m rows the
       query already has;
    4. **union** seed with the surviving pairs' scored fan-out —
       the scan's literal IN-list shrinks to the surviving cells.

    Per-qid results equal the plain batch probe row-for-row in both
    modes (test-pinned) — the same soundness argument as the
    single-query :func:`cellstats.early_exit_scored`. ``all_cells``:
    the probe frame's cell union when the caller already knows it
    (the chunked path derives it driver-side) — skips one
    control-plane job."""
    from ..queries.similarity import _fixed_dot
    from .cellstats import (bounds_frame, lower_bound_col,
                            upper_bound_col)

    if all_cells is None:
        all_cells = cells_of(probe_all)
    if mode == "box":
        m = (rerank_cut * k
             if storage == "int8" and rerank_vectors is not None
             else k)
        p1 = probe_all.filter(F.col("rn") == 1).drop("rn")
        bf = bounds_frame(spark, stats, "cell", all_cells)
        qsq = _fixed_dot("qci", "qci").cast("double") / F.lit(1e18)
        # nz >= m + excluded (r14 ADVICE high): exclude_self removes
        # at most one stored row per query — a row nz counts but the
        # scan never scores; with nz == m exactly, only m-1 rows
        # witness the floor, so the gate demands one extra witness
        # whenever an exclusion is active (cellstats.box_prune_keys
        # is the single-query twin).
        lq = (p1.join(F.broadcast(bf), "cell", "left")
              .select("qid",
                      F.when(F.col("nz") >= m + excluded,
                             lower_bound_col(F.col("qci"), qsq))
                      .alias("_L"))
              .filter(F.col("_L").isNotNull()))
        rest = probe_all.filter(F.col("rn") > 1).drop("rn")
        survivors = (rest.join(F.broadcast(bf), "cell", "left")
                     .join(F.broadcast(lq), "qid", "left")
                     .withColumn("_ub",
                                 upper_bound_col(F.col("qci"), qsq))
                     .filter(F.col("_L").isNull()
                             | F.col("dmin").isNull()
                             | (F.col("_ub") >= F.col("_L")))
                     .select("qid", "qci", "cell"))
        pairs = p1.select("qid", "qci", "cell").unionByName(survivors)
        scored = _ivf_batch_score(fanout(pairs, cells_of(pairs)),
                                  storage)
        return _ivf_batch_tail(scored, q, k, rerank_vectors,
                               rerank_cut, storage)

    m = (rerank_cut * k
         if storage == "int8" and rerank_vectors is not None else k)
    from pyspark.sql import Window
    wk = Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                           F.asc("vec_id"))
    bf = bounds_frame(spark, stats, "cell", all_cells)
    qsq = _fixed_dot("qci", "qci").cast("double") / F.lit(1e18)

    def _tops(scored):
        # count("cosine"), not count("*") (ADVICE r13): NULL-cosine
        # rows (zero vectors/codes — legal) sort NULLS LAST under
        # desc but still occupy seed slots when non-null rows run
        # short; counting them would pass the >= m gate while min()
        # skipped them — an OVERESTIMATED L that wrongly prunes
        # cells holding true top-k rows. The single-query path
        # (cellstats.early_exit_scored) filters None before its
        # >= m check; this is the batch twin.
        return (scored.groupBy("qid")
                .agg(F.count("cosine").alias("_n"),
                     F.min("cosine").alias("_L"))
                .filter(F.col("_n") >= m).select("qid", "_L"))

    def _prune(pairs, lq):
        return (pairs.join(F.broadcast(bf), "cell", "left")
                .join(F.broadcast(lq), "qid", "left")
                .withColumn("_ub", upper_bound_col(F.col("qci"),
                                                   qsq))
                .filter(F.col("_L").isNull()
                        | F.col("dmin").isNull()
                        | (F.col("_ub") >= F.col("_L")))
                .select("qid", "qci", "cell"))

    p1 = probe_all.filter(F.col("rn") == 1).drop("rn")
    scored = (_ivf_batch_score(fanout(p1, cells_of(p1)), storage)
              .withColumn("rn", F.row_number().over(wk))
              .filter(F.col("rn") <= m).drop("rn")
              .localCheckpoint())
    lq = _tops(scored)
    handled = 1
    if mode == "seed2":
        # ITERATIVE TIGHTENING (r13 VERDICT #7): score the rank-2
        # band (itself pruned by the seed threshold first),
        # re-measure each query's m-th over seed ∪ band-2, and prune
        # the remaining bands against the strictly-tighter value —
        # band-at-a-time, one extra materialization barrier
        band2 = _prune(probe_all.filter(F.col("rn") == 2).drop("rn"),
                       lq).localCheckpoint()
        b2cells = cells_of(band2)
        if b2cells:
            scored = (scored.unionByName(
                _ivf_batch_score(fanout(band2, b2cells), storage))
                .withColumn("rn", F.row_number().over(wk))
                .filter(F.col("rn") <= m).drop("rn")
                .localCheckpoint())
            lq = _tops(scored)
        handled = 2
    rest = probe_all.filter(F.col("rn") > handled).drop("rn")
    survivors = _prune(rest, lq).localCheckpoint()
    cells2 = cells_of(survivors)
    if cells2:
        scored = scored.unionByName(
            _ivf_batch_score(fanout(survivors, cells2), storage))
    return _ivf_batch_tail(scored, q, k, rerank_vectors, rerank_cut,
                           storage)


def ivf_pinned_topk(spark: SparkSession, root: str, pin,
                    query_vec: list, k: int = TOP_K,
                    nprobe: int = 2,
                    exclude_id: int | None = None,
                    rerank_vectors: DataFrame | None = None,
                    rerank_cut: int = 4) -> DataFrame:
    """Top-k cosine over a PINNED view of the IVF index — pinned
    batch directories only (path selection), the same frozen-
    quantizer driver-side cell ranking, and the same exact re-rank
    as :func:`ivf_incremental_topk`: a quoted similarity result
    re-runs bit-for-bit after the live index moves on. The quantizer
    is frozen by contract, so the pinned probe ranks cells against
    the same centroids the pinned vectors were placed with."""
    import math

    meta = _load_meta(spark, root)
    if len(query_vec) != meta["dim"]:
        raise ValueError(
            f"expected {meta['dim']}-dim query vector, "
            f"got {len(query_vec)}")
    qci = [math.floor(float(x) * 1000000000.0 + 0.5)
           for x in query_vec]
    qsq = float(sum(c * c for c in qci)) / 1e18
    ranked = sorted(
        ((float(sum(int(s) * q for s, q in zip(r.csum, qci)))
          / (r.nv * 1e18), int(r.cell))
         for r in _load_centroids(spark, root, meta)),
        key=lambda t: (-t[0], t[1]))
    probe_cells = [c for _, c in ranked[:nprobe]]

    from .snapshots import read_pinned_table

    scan = (read_pinned_table(spark, root, pin, IVF_TABLE,
                              schema=_schema_of(meta))
            .filter(F.col("cell").isin(probe_cells)))
    if meta.get("storage", "float") == "int8":
        return _ivf_code_topk(scan, qci, qsq, k, exclude_id,
                              rerank_vectors, rerank_cut)
    return _ivf_rerank(scan, qci, qsq, k, exclude_id)


def compact_ivf_batches(spark: SparkSession, root: str,
                        batch_ids: list[str] | None = None,
                        n_files_per_cell: int = 1,
                        rows_per_file: int | None = None) -> str:
    """Fold many per-batch partitions into one ``compact-N`` batch —
    the small-files relief for the per-batch L-way fan-out. Same
    manifest-supersession commit as the corpus/LSH compactions.

    SIZE-AWARE mode (VERDICT r10 #6): with ``rows_per_file`` set, a
    hot cell no longer folds into ``n_files_per_cell`` files
    regardless of row count — each cell is salted into
    ``ceil(rows/target)`` write tasks (parallelizing the hot cell's
    rewrite) and ``maxRecordsPerFile`` caps every output file at the
    target, so file sizes stay balanced however skewed the cell
    occupancy (the skew ``verify_ivf_index``'s occupancy canary
    reports)."""
    with corpus_writer_lock(spark, root, op="ivf_compact") as lease:
        return _compact_ivf_batches(spark, root, batch_ids,
                                    n_files_per_cell, lease,
                                    rows_per_file)


def _compact_ivf_batches(spark: SparkSession, root: str,
                         batch_ids: list[str] | None,
                         n_files_per_cell: int, lease,
                         rows_per_file: int | None = None) -> str:
    meta = _load_meta(spark, root)
    ms = _load_manifests(spark, root)
    gone = _superseded(ms)
    live = [b for b in ms if b not in gone]
    ids = sorted(batch_ids) if batch_ids is not None else sorted(live)
    unknown = [b for b in ids if b not in live]
    if unknown:
        raise ValueError(f"cannot compact non-live batches {unknown}")
    if not ids:
        raise ValueError("nothing to compact: no live batches")

    cid = _next_seq_id(ms, "compact")
    path = f"{root}/{IVF_TABLE}"
    delete_path(spark, f"{path}/batch_id={cid}")
    if path_exists(spark, path):
        rows = (spark.read.schema(_schema_of(meta))
                .parquet(path)
                .filter(F.col("batch_id").isin(ids))
                .withColumn("batch_id", F.lit(cid))
                .localCheckpoint())
        from .ann_index import _size_aware_writer
        (_size_aware_writer(rows, "cell", n_files_per_cell,
                            rows_per_file)
         .mode("append").partitionBy("batch_id", "cell")
         .parquet(path))

    replaces = sorted(set(ids) | {r for b in ids
                                  for r in ms[b].get("replaces", ())})
    sources = {ms[b].get("cell_source") for b in ids}
    manifest = {
        "batch_id": cid, "replaces": replaces,
        **{k: sum(ms[b].get(k, 0) for b in ids)
           for k in ("n_input", "n_id_dupes", "n_admitted")},
        "cell_source": (sources.pop() if len(sources) == 1
                        else "mixed"),
    }
    if rows_per_file is not None:
        # size-aware compactions RECORD their target (see the LSH
        # twin) — the advisory's compact_hot suppression reads it
        manifest["rows_per_file"] = rows_per_file
    from .corpus import _union_provenance
    prov = _union_provenance(ms, ids)
    if prov is not None:   # lineage survives compaction
        manifest["corpus_batch"] = prov
    lease.fence()
    write_text_atomic(spark, _manifest_path(root, cid),
                      json.dumps(manifest, sort_keys=True))
    _write_snapshot(spark, root, {**ms, cid: manifest})

    from .corpus import _prune_superseded
    _prune_superseded(spark, root, tables=(IVF_TABLE,), lease=lease)
    # compaction is the direction-box RE-TIGHTENING pass: recompute
    # the early-exit stats exactly from the live rows just rewritten
    # (also upgrades legacy pre-stats roots — plans/cellstats)
    from .cellstats import recompute_stats
    recompute_stats(spark, root, read_ivf_postings(spark, root),
                    "cell", meta.get("storage", "float"),
                    meta["dim"])
    return cid


def delete_ivf_vectors(spark: SparkSession, root: str,
                       vec_ids: "list[int] | DataFrame",
                       n_files_per_cell: int = 1,
                       release_conflicting_pins: bool = False,
                       _crash_after: str | None = None) -> str:
    """ROW-LEVEL vector takedown for the IVF index — the shared
    retain-N filter-and-rewrite (plans/ann_index._retain_vectors):
    surviving rows keep their stored cells, so placement is
    unchanged by construction. The retain manifest carries no
    ``cell_source`` (its rows may mix assigned and provided
    lineages), so the fsck applies the membership check to it rather
    than re-deriving placement."""
    with corpus_writer_lock(spark, root, op="ivf_retain") as lease:
        return _retain_vectors(
            spark, root, IVF_TABLE, "cell",
            _schema_of(_load_meta(spark, root)),
            vec_ids, n_files_per_cell, lease, _crash_after,
            release_conflicting_pins)


def prune_ivf_uncommitted(spark: SparkSession, root: str) -> list[str]:
    """Garbage-collect cell partitions with NO manifest that are not
    superseded — crashed ingests never retried under the same batch
    id. ``verify_ivf_index`` NAMES these orphans; this sweeps them.
    Takes the writer lease."""
    from .corpus import _prune_uncommitted

    with corpus_writer_lock(spark, root,
                            op="ivf_prune_uncommitted") as lease:
        return _prune_uncommitted(spark, root, lease=lease,
                                  tables=(IVF_TABLE,))


def delete_ivf_batch(spark: SparkSession, root: str,
                     batch_id: str) -> None:
    """RETENTION: de-commit a live vector batch — manifest deleted
    first, partition swept after; ids become re-admittable."""
    with corpus_writer_lock(spark, root,
                            op=f"ivf_delete:{batch_id}") as lease:
        ms = _load_manifests(spark, root)
        if batch_id not in ms or batch_id in _superseded(ms):
            raise ValueError(
                f"batch_id {batch_id!r} is not a live committed batch "
                f"under {root}")
        from .snapshots import PinConflictError, list_pins
        # closure: see corpus.delete_batch — deleting the manifest
        # would resurrect pinned-held replaced batches as live
        closure = {batch_id} | set(ms[batch_id].get("replaces", ()))
        holders = sorted(d for d, p in list_pins(spark, root).items()
                         if set(p["batches"]) & closure)
        if holders:
            raise PinConflictError(
                f"batch {batch_id!r} (or a batch it replaced) is "
                f"held by pins {holders} — release them before the "
                f"batch-level delete")
        lease.fence()
        delete_path(spark, _manifest_path(root, batch_id))
        _write_snapshot(spark, root,
                        {b: m for b, m in ms.items() if b != batch_id})
        delete_path(spark, f"{root}/{IVF_TABLE}/batch_id={batch_id}")


def verify_ivf_index(spark: SparkSession, root: str) -> dict:
    """Consistency fsck for the incremental IVF index — invariants:

    - **quantizer**: the stored centroid table matches the frozen
      ``_meta`` digest (checked by every loader; re-checked here);
    - **ledger**: every live batch holds exactly its manifest's
      ``n_admitted`` vectors (missing directory = violation);
    - **uniqueness**: ``vec_id`` globally unique across the live
      index;
    - **membership**: every stored row's cell is one of the frozen
      quantizer's cells (an unknown cell is stored-but-never-probed
      data loss);
    - **placement**: for batches ingested under the nearest-centroid
      contract (``cell_source == "assigned"``), the stored cell
      equals the cell re-derived from the row's own embedding
      against the frozen centroids;
    - **orphans**: unmanifested/superseded partitions still on disk.

    The report also carries the CELL-OCCUPANCY canary (VERDICT r10
    #6 — the skew signal the dedup ledgers already have): max /
    median / mean rows per occupied cell and the hottest cell id,
    so a drifting embedding distribution piling into few cells is
    visible before probe latency shows it. One L-row aggregate —
    driver-sized by IVF construction.

    One aggregate scan each; nothing collected row-wise."""
    import statistics

    from ..fs import list_dir

    meta = _load_meta(spark, root)
    violations: list[str] = []
    placement_check = "skipped: no live data or no quantizer"
    try:
        cent_rows = _load_centroids(spark, root, meta)
    except ValueError as e:
        violations.append(f"quantizer: {e}")
        cent_rows = None

    ms = _load_manifests(spark, root)
    gone = _superseded(ms)
    live = sorted(b for b in ms if b not in gone)
    path = f"{root}/{IVF_TABLE}"
    ix = (_visible_scan(spark, path, live, _schema_of(meta))
          if live and path_exists(spark, path) else None)
    n_rows = 0
    occupancy: dict = {"n_cells_occupied": 0, "max": 0, "median": 0,
                       "mean": 0.0, "hottest_cell": None}
    if ix is None and live:
        for bid in live:
            want = ms[bid].get("n_admitted", 0)
            if want:
                violations.append(
                    f"ledger: batch {bid} manifest says {want} "
                    f"vectors but {path} is missing")
    if ix is not None:
        per_batch = {r.batch_id: r.n for r in
                     ix.groupBy("batch_id")
                     .agg(F.count("*").alias("n")).collect()}
        n_rows = sum(per_batch.values())
        for bid in live:
            want = ms[bid].get("n_admitted", 0)
            got = per_batch.get(bid, 0)
            if want != got:
                violations.append(
                    f"ledger: batch {bid} has {got} vectors, "
                    f"manifest says {want}")
        n_dupes = (ix.groupBy("vec_id")
                   .agg(F.count("*").alias("n"))
                   .filter(F.col("n") > 1).count())
        if n_dupes:
            violations.append(
                f"uniqueness: {n_dupes} vec_ids appear in more than "
                f"one live index row")
        per_cell = {int(r.cell): int(r.n) for r in
                    ix.groupBy("cell")
                    .agg(F.count("*").alias("n")).collect()
                    if r.cell is not None}
        if per_cell:
            occ = sorted(per_cell.values())
            occupancy = {
                "n_cells_occupied": len(occ),
                "max": occ[-1],
                "median": statistics.median(occ),
                "mean": round(sum(occ) / len(occ), 2),
                "hottest_cell": max(per_cell, key=per_cell.get)}
        if cent_rows is not None:
            known = sorted(int(r.cell) for r in cent_rows)
            n_unknown = ix.filter(~F.col("cell").isin(known)).count()
            if n_unknown:
                violations.append(
                    f"membership: {n_unknown} rows sit in a cell "
                    f"outside the frozen quantizer's {len(known)} "
                    f"cells (stored but never probed)")
            assigned = [b for b in live
                        if ms[b].get("cell_source") == "assigned"]
            if meta.get("storage", "float") == "int8":
                # codes, not the original embeddings, are stored: a
                # cell re-derived from the DEQUANTIZED vector can
                # legitimately differ near a boundary, so the
                # placement re-derivation would false-positive —
                # skipped, and SAID so (membership/ledger/uniqueness
                # still checked above)
                placement_check = ("skipped: int8 storage stores "
                                   "codes; placement re-derivation "
                                   "needs the original embeddings")
            elif assigned:
                placement_check = "checked"
                sub = ix.filter(F.col("batch_id").isin(assigned))
                cents = spark.createDataFrame(
                    [(int(r.cell), [int(s) for s in r.csum],
                      int(r.nv)) for r in cent_rows],
                    "cell BIGINT, csum ARRAY<BIGINT>, nv BIGINT")
                want = (_cell_scores(
                    sub.select("vec_id", "embedding"), cents,
                    meta["dim"])
                    .groupBy("vec_id")
                    .agg(F.max_by(
                        F.col("cell"),
                        F.struct(F.col("score"),
                                 (-F.col("cell")).alias("nc")))
                        .alias("_want")))
                n_drift = (sub.select("vec_id", "cell")
                           .join(want, "vec_id")
                           .filter(F.col("cell") != F.col("_want"))
                           .count())
                if n_drift:
                    violations.append(
                        f"placement: {n_drift} assigned rows sit in "
                        f"a cell != their own embedding's nearest "
                        f"frozen centroid")
            else:
                placement_check = "skipped: no assigned-cell batches"

    # early-exit direction boxes must COVER every live row — a row
    # outside its box could be wrongly pruned at probe time, the one
    # data-loss class early exit can add (plans/cellstats)
    from .cellstats import verify_stats
    if ix is not None:
        cellstats_check, cs_viol = verify_stats(
            spark, root, ix, "cell", meta.get("storage", "float"),
            meta["dim"])
        violations += cs_viol
    else:
        cellstats_check = "skipped: no live data"

    live_set = set(live)
    orphans = {
        child[len("batch_id="):]
        for child in list_dir(spark, path)
        if child.startswith("batch_id=")
        and child[len("batch_id="):] not in live_set}
    # snapshot-pinned batches are deliberately held, not sweepable
    # garbage — same split as corpus.verify_corpus
    from .snapshots import pinned_batches
    pinned = orphans & pinned_batches(spark, root)
    from ..fs import dir_bytes
    return {"live_batches": len(live), "index_rows": n_rows,
            "cell_occupancy": occupancy,
            "storage": meta.get("storage", "float"),
            "cellstats_check": cellstats_check,
            "placement_check": placement_check,
            "table_bytes": (dir_bytes(spark, path)
                            if path_exists(spark, path) else 0),
            "orphans": sorted(orphans - pinned),
            "pinned_held": sorted(pinned), "violations": violations}
