"""INCREMENTALLY-MAINTAINED IVF index — the coarse-quantizer family of
the posting-index core (plans/postings.py), closing the one similarity
structure that still required a full rebuild per delta
(operators/similarity.write_ivf_index): at 100 TB you cannot
re-cluster and rewrite every posting list because a day of embeddings
arrived. The protocol — readers, ingest skeleton, compaction,
retention, fsck, scoring and the batch-probe driver — lives in the
core; this module supplies what is IVF.

The contract that makes incremental maintenance sound is that the
coarse quantizer is TRAINED ONCE and then FROZEN — exactly how FAISS
serves IVF in production: re-training centroids per delta would move
cell boundaries under the already-written posting lists, silently
mis-probing everything older than the last delta. So:

- ``{root}/centroids`` — one row per cell (exact int64 nano-unit
  component sums + the training count), written by
  :func:`init_ivf_index` and never again; driver-sized by IVF
  construction.
- ``{root}/_meta.json`` — the quantizer identity: kind, dim, cell
  count, storage and a digest of the centroid table. Every ingest and
  every query re-derives the digest from the stored centroids and
  refuses on drift — a tampered centroid table would otherwise
  silently re-route probes.
- ``{root}/postings/batch_id=B/cell=N/`` (``cell BIGINT``) — the
  vectors; op names ``ivf_*``.

Delta vectors are routed to cells by NEAREST FROZEN CENTROID (the
same mean-scaled exact-integer score the query-time cell ranking
uses, so placement and probing can never disagree); a batch may
instead carry precomputed cells (``cell_col``) when an upstream
clustering owns placement — the manifest records which
(``cell_source``), and the fsck re-derives placement only where the
nearest-centroid rule is the contract. Probe keys are the top-nprobe
cells; the batch probe frame carries each query's cell rank ``rn``
(seed ``rn == 1``, band 2 ``rn == 2``).

Reference parity: the reference rebuilds its whole search structure
per run; operators/similarity.write_ivf_index is this engine's
one-shot restatement of that, and this module is its production
shape.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fs import path_exists, write_text_atomic
from ..operators.similarity import EMB_DIM, TOP_K, _fixed_point
from . import batches as B
from . import postings as P
from .postings import STORAGES

IVF = P.Family(prefix="ivf", init_hint="init_ivf_index creates it",
               table="postings", part="cell", part_type="BIGINT",
               rank="rn", q_in_pairs=True)
IVF_TABLE = IVF.table
CENTROIDS_TABLE = "centroids"
# split for the exact hi/lo integer dot against centroid SUMS (their
# components reach nv·2^34, past the per-vector default) — the same
# constant operators/similarity.ivf_search_topk uses for this fold.
CSUM_SPLIT = 1 << 20


def _load_meta(spark: SparkSession, root: str) -> dict:
    return P.load_meta(spark, IVF, root)



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
    with B.corpus_writer_lock(spark, root, op="ivf_init") as lease:
        if path_exists(spark, P.meta_path(root)):
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
        write_text_atomic(spark, P.meta_path(root),
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


def _centroid_frame(spark: SparkSession, cent_rows) -> DataFrame:
    return spark.createDataFrame(
        [(int(r.cell), [int(s) for s in r.csum], int(r.nv))
         for r in cent_rows],
        "cell BIGINT, csum ARRAY<BIGINT>, nv BIGINT")


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
    return B.committed_batches(spark, root)


def read_ivf_postings(spark: SparkSession, root: str) -> DataFrame:
    """Every committed posting row, in the root's STORED layout
    (float: vec_id, embedding, cell, batch_id; int8: vec_id, code,
    scale, cell, batch_id). For a storage-independent
    (vec_id, embedding) view use :func:`ivf_vectors`."""
    return P.read(spark, IVF, root)


def read_ivf_cells(spark: SparkSession, root: str,
                   cells: "list[int]",
                   parallelism: "str | None" = "bytes") -> DataFrame:
    """:func:`read_ivf_postings` scoped to a driver-known probed cell
    set — the PROBE reader: an nprobe-cell probe lists nprobe ×
    batches leaf directories instead of the whole n_cells × batches
    tree (postings.read)."""
    return P.read(spark, IVF, root, cells, parallelism)


def ivf_vectors(spark: SparkSession, root: str) -> DataFrame:
    """(vec_id, embedding) for every committed vector, whatever the
    storage (int8 roots DEQUANTIZE). What training, recall grading,
    and a cross-storage migration read."""
    return P.vectors(spark, IVF, root)


def ivf_ingest_delta(spark: SparkSession, root: str, emb: DataFrame,
                     batch_id: str, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     cell_col: str | None = None,
                     dedup_ids: bool = True,
                     corpus_batch: "str | list[str] | None" = None,
                     _crash_after: str | None = None,
                     manifest_extra: dict | None = None) -> dict:
    """Append a vector delta under the manifest-last commit protocol
    (postings.ingest). Cells come from the frozen quantizer
    (``cell_col=None``, the production default — one in-row numpy
    argmax, :func:`_attach_cells`) or from a caller-provided column
    (an upstream clustering owns placement — values must be known
    cells). ``corpus_batch`` records provenance for the cross-root
    fsck (plans/linkage.verify_linked); ``manifest_extra`` merges
    caller metadata (protocol keys refused). ``_crash_after=
    "postings"`` is the crash-recovery test seam. Returns the
    committed manifest."""
    with P.ingest_lease(spark, IVF, root, batch_id) as lease:
        meta = _load_meta(spark, root)
        cent_rows = _load_centroids(spark, root, meta)
        # dim-check the stored column itself so the PROVIDED-cell
        # path is guarded too (its rows never pass through placement,
        # but a wrong-dim vector would be unprobeable)
        cols = [F.col(id_col).alias("vec_id"),
                _checked_dim(F.col(vec_col).cast("array<float>"),
                             meta["dim"], f"ivf_ingest_delta({batch_id})")
                .alias("embedding")]
        if cell_col is None:
            def place(delta):
                return _attach_cells(delta, cent_rows, meta["dim"], root)
        else:
            cols.append(F.col(cell_col).cast("bigint").alias("cell"))
            known = sorted(int(r.cell) for r in cent_rows)

            def place(delta):
                n_unknown = (delta.filter(
                    ~F.col("cell").isin(known)
                    | F.col("cell").isNull()).count())
                if n_unknown:
                    raise ValueError(
                        f"{n_unknown} delta rows carry a cell outside "
                        f"the frozen quantizer's {meta['n_cells']} "
                        f"cells — they would be stored but never probed")
                return delta
        return P.ingest(
            spark, IVF, root, lease, meta, emb, batch_id, cols, place,
            dedup_ids, corpus_batch, _crash_after, manifest_extra,
            {"cell_source": ("provided" if cell_col is not None
                             else "assigned")})


def _probe_cells(spark: SparkSession, root: str, meta: dict,
                 query_vec: list, nprobe: int) -> "list[int]":
    """The top-``nprobe`` cells of one query, ranked DRIVER-SIDE
    against the frozen centroids (exact arbitrary-precision integer
    dots — identical to the executor-side placement score; ties to
    the lower cell id)."""
    if len(query_vec) != meta["dim"]:
        raise ValueError(
            f"expected {meta['dim']}-dim query vector, "
            f"got {len(query_vec)}")
    qci, _ = P.qdec(query_vec)
    ranked = sorted(
        ((float(sum(int(s) * q for s, q in zip(r.csum, qci)))
          / (r.nv * 1e18), int(r.cell))
         for r in _load_centroids(spark, root, meta)),
        key=lambda t: (-t[0], t[1]))
    return [c for _, c in ranked[:nprobe]]


def ivf_incremental_topk(spark: SparkSession, root: str,
                         query_vec: list, k: int = TOP_K,
                         nprobe: int = 2,
                         exclude_id: int | None = None,
                         rerank_vectors: DataFrame | None = None,
                         rerank_cut: int = 4,
                         early_exit: "bool | str" = False
                         ) -> DataFrame:
    """Top-k cosine over the COMMITTED index: rank cells driver-side
    (:func:`_probe_cells`), then scan the posting lists with a
    literal ``cell IN (nprobe)`` predicate — static directory pruning
    inside every committed batch, zero exchanges. Scoring is the
    exact fixed-point cosine re-rank of the one-shot
    ``ivf_indexed_topk``: for equal committed content the two return
    identical rows. ``root`` may be a migration pointer file or an
    :class:`migration.IndexPointerHandle` (cached resolution for
    high-QPS probe loops).

    int8 roots score the exact SCALE-FREE code cosine; pass
    ``rerank_vectors`` (a (vec_id, embedding) float source) to take a
    top-(``rerank_cut``·k) cut on code scores and exact-rerank ONLY
    those candidates (plans/codes module docstring).

    ``early_exit`` SKIPS probed cells whose direction-box upper bound
    (plans/cellstats) provably cannot reach the top-k — rows
    IDENTICAL by the bound's soundness; the win is the skipped
    posting lists' scan work. Two modes:

    - ``True`` / ``"box"``: the threshold is the seed cell's own box
      LOWER bound — driver arithmetic over the stats sidecar, ZERO
      extra jobs: never slower, idle or busy.
    - ``"seed"``: box prune first, then score the seed cell, collect
      its top-m (a second sequential job) and prune against the
      MEASURED m-th cosine — a superset of the box pruning. Measured
      (EE_COSTMODEL_r14.json): task-seconds ~4× down; wall 2.6× down
      under CONSTRAINED slots but ~2× UP on an idle cluster (the
      seed barrier).

    Both are no-ops on roots without committed stats; off by default
    because on a uniform distribution the boxes are loose."""
    from .migration import resolve_probe_location

    root = resolve_probe_location(spark, root)
    meta = _load_meta(spark, root)
    cells = _probe_cells(spark, root, meta, query_vec, nprobe)
    return P.topk(spark, IVF, root, meta,
                  read_ivf_cells(spark, root, cells), cells, query_vec,
                  k, exclude_id, rerank_vectors, rerank_cut, early_exit)


def ivf_pinned_topk(spark: SparkSession, root: str, pin,
                    query_vec: list, k: int = TOP_K,
                    nprobe: int = 2,
                    exclude_id: int | None = None,
                    rerank_vectors: DataFrame | None = None,
                    rerank_cut: int = 4) -> DataFrame:
    """Top-k cosine over a PINNED view of the IVF index — pinned
    batch directories only, the same frozen-quantizer cell ranking
    and exact re-rank as :func:`ivf_incremental_topk`: a quoted
    similarity result re-runs bit-for-bit after the live index moves
    on (the quantizer is frozen, so the pinned vectors were placed
    with the same centroids)."""
    meta = _load_meta(spark, root)
    cells = _probe_cells(spark, root, meta, query_vec, nprobe)
    return P.topk(spark, IVF, root, meta,
                  P.pinned_scan(spark, IVF, root, pin, meta), cells,
                  query_vec, k, exclude_id, rerank_vectors, rerank_cut)


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
    shape :func:`recall.measure_recall` defers to. Per query the rows
    equal ``ivf_incremental_topk``'s (the same exact-integer cell
    ranking — executor-side here, folded to the same double — same
    rerank, same tie order; test-pinned). Queries × frozen centroids
    (both broadcast-sized) → per-query top-``nprobe`` cells via one
    small window, checkpointed as the (qid, qci, cell, rn) probe
    frame; the batch-probe driver (postings.batch_topk) scans the
    cell union with static pruning, fans each posting row out to
    only the queries probing its cell and keeps k per qid. Returns
    (qid, vec_id, cosine, cell); ``exclude_self`` drops
    ``vec_id == qid`` matches.

    ``max_queries_per_job`` degrades a too-big batch into a
    deterministic loop of broadcast-sized jobs over qid ranges
    (chunked ≡ unchunked row-for-row); ``chunk_concurrency=N``
    overlaps N chunks at N× the peak memory the cap bounds (default
    1, strict serial). ``early_exit``: per-QUERY cell pruning from
    the direction boxes, rows identical (``"box"``: rank-1 cell
    floor, zero extra jobs; ``"seed"``/``"seed2"``: measured
    threshold with a barrier)."""
    from pyspark.sql import Window

    from ..queries.similarity import _fixed_dot
    from .migration import resolve_probe_location

    root = resolve_probe_location(spark, root)
    meta = _load_meta(spark, root)
    cents = _centroid_frame(spark, _load_centroids(spark, root, meta))
    q = queries.select(
        F.col(id_col).cast("bigint").alias("qid"),
        _fixed_point(_checked_dim(F.col(vec_col), meta["dim"],
                                  "ivf_batch_topk")).alias("qci"))
    # per-query cell ranking: the same mean-scaled exact-integer dot
    # as _cell_scores / the driver-side single-query ranking, ties to
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
    rn = F.col("rn")
    return P.batch_topk(spark, IVF, root, meta, probe_all, q,
                        (rn == 1, rn > 1, rn == 2, rn > 2), nprobe > 1,
                        k, exclude_self, max_queries_per_job,
                        rerank_vectors, rerank_cut, early_exit,
                        chunk_concurrency)


def compact_ivf_batches(spark: SparkSession, root: str,
                        batch_ids: list[str] | None = None,
                        n_files_per_cell: int = 1,
                        rows_per_file: int | None = None) -> str:
    """Fold many per-batch partitions into one ``compact-N`` batch —
    the small-files relief for the per-batch L-way fan-out
    (postings.compact); the manifest's ``cell_source`` is the folded
    batches' common source, or ``"mixed"``. SIZE-AWARE mode
    (``rows_per_file``): each hot cell is salted into
    ``ceil(rows/target)`` write tasks with every output file capped,
    so file sizes stay balanced however skewed the occupancy
    ``verify_ivf_index`` reports."""
    def cell_source(ms, ids):
        sources = {ms[b].get("cell_source") for b in ids}
        return {"cell_source": (sources.pop() if len(sources) == 1
                                else "mixed")}

    return P.compact(spark, IVF, root, batch_ids, n_files_per_cell,
                     rows_per_file, cell_source)


def delete_ivf_vectors(spark: SparkSession, root: str,
                       vec_ids: "list[int] | DataFrame",
                       n_files_per_cell: int = 1,
                       release_conflicting_pins: bool = False,
                       _crash_after: str | None = None) -> str:
    """ROW-LEVEL vector takedown (postings.retain): surviving rows
    keep their stored cells, so placement is unchanged by
    construction. The retain manifest carries no ``cell_source``
    (its rows may mix lineages), so the fsck applies the membership
    check to it rather than re-deriving placement."""
    return P.retain(spark, IVF, root, vec_ids, n_files_per_cell,
                    release_conflicting_pins, _crash_after)


def prune_ivf_uncommitted(spark: SparkSession, root: str) -> list[str]:
    """Sweep cell partitions with NO manifest that are not superseded
    — the orphans ``verify_ivf_index`` names."""
    return P.prune_uncommitted(spark, IVF, root)


def delete_ivf_batch(spark: SparkSession, root: str,
                     batch_id: str) -> None:
    """RETENTION: de-commit a live vector batch (postings.delete_batch)."""
    P.delete_batch(spark, IVF, root, batch_id)


def verify_ivf_index(spark: SparkSession, root: str) -> dict:
    """Consistency fsck (postings.verify: ledger, uniqueness,
    occupancy as ``cell_occupancy``, cellstats, orphans, pins) plus
    the IVF checks, reported as ``placement_check``:

    - **quantizer**: the stored centroid table matches the frozen
      ``_meta`` digest (checked by every loader; re-checked here);
    - **membership**: every stored row's cell is one of the frozen
      quantizer's cells (an unknown cell is stored-but-never-probed
      data loss);
    - **placement**: for batches ingested under the nearest-centroid
      contract (``cell_source == "assigned"``), the stored cell
      equals the cell re-derived from the row's own embedding —
      skipped, and said so, on int8 roots (a cell re-derived from the
      dequantized vector can legitimately differ near a boundary)."""
    meta = _load_meta(spark, root)
    violations: list[str] = []
    try:
        cent_rows = _load_centroids(spark, root, meta)
    except ValueError as e:
        violations.append(f"quantizer: {e}")
        cent_rows = None

    def placement(ix, ms, live):
        if ix is None or cent_rows is None:
            return "skipped: no live data or no quantizer", []
        found = []
        known = sorted(int(r.cell) for r in cent_rows)
        n_unknown = ix.filter(~F.col("cell").isin(known)).count()
        if n_unknown:
            found.append(
                f"membership: {n_unknown} rows sit in a cell outside "
                f"the frozen quantizer's {len(known)} cells (stored "
                f"but never probed)")
        assigned = [b for b in live
                    if ms[b].get("cell_source") == "assigned"]
        if meta.get("storage", "float") == "int8":
            return ("skipped: int8 storage stores codes; placement "
                    "re-derivation needs the original embeddings"), found
        if not assigned:
            return "skipped: no assigned-cell batches", found
        sub = ix.filter(F.col("batch_id").isin(assigned))
        want = (_cell_scores(sub.select("vec_id", "embedding"),
                             _centroid_frame(spark, cent_rows),
                             meta["dim"])
                .groupBy("vec_id")
                .agg(F.max_by(F.col("cell"),
                              F.struct(F.col("score"),
                                       (-F.col("cell")).alias("nc")))
                     .alias("_want")))
        n_drift = (sub.select("vec_id", "cell").join(want, "vec_id")
                   .filter(F.col("cell") != F.col("_want")).count())
        if n_drift:
            found.append(
                f"placement: {n_drift} assigned rows sit in a cell != "
                f"their own embedding's nearest frozen centroid")
        return "checked", found

    return P.verify(spark, IVF, root, meta, "placement_check",
                    placement, violations)
