"""INCREMENTALLY-MAINTAINED LSH (ANN) index — the similarity-search
analog of the incremental corpus (plans/corpus.py): at 100 TB you
cannot rebuild the embedding index per delta, so vector batches append
under the manifest-last commit protocol and queries see exactly the
committed batches. The protocol — readers, ingest skeleton,
compaction, retention, fsck, scoring and the batch-probe driver — is
the posting-index core (plans/postings.py); this module supplies what
is LSH:

- the family: ``{root}/buckets/batch_id=B/bucket=N/`` (``bucket
  INT``), op names ``ann_*``;
- the meta rules: ``{root}/_meta.json`` — the bucketing identity
  (plane count, dim, planes digest, storage, table count) — is
  written by the FIRST ingest and validated by every later ingest
  and every query: two batches bucketed under different hyperplanes
  would silently cross-probe wrong buckets, the drift the one-shot
  index's sidecar guards against (operators/similarity);
- placement: the in-row signed-plane fold (:func:`_attach_buckets`),
  L rows per vector on multi-table roots under composite key
  ``(t << J) | bucket_t``;
- probe keys: the Hamming ball or the margin-ranked multi-probe
  sequence, driver-side for one query and executor-side for a batch;
  the seed key is table 0's own bucket (flip mask ``m == 0``), band 2
  the ≤1-flip buckets;
- the fsck's bucketing re-derivation.

Reference parity: the reference rebuilds its search structure per
run (one-shot, like operators/similarity.write_ann_index); this is
the production shape that form stands in for. Per-batch small-files
debt (each batch fans out over 2^J bucket directories) is what
:func:`compact_ann_batches` folds away.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fs import path_exists, write_text_atomic
from ..operators.similarity import (EMB_DIM, NUM_PLANES, TOP_K,
                                    _fixed_point, _planes_digest,
                                    lsh_buckets, query_bucket)
from . import batches as B
from . import postings as P
from .postings import STORAGES

ANN = P.Family(prefix="ann",
               init_hint="the first ann_ingest_delta creates it",
               table="buckets", part="bucket", part_type="INT",
               rank="m", q_in_pairs=False)
ANN_TABLE = ANN.table


def _load_meta(spark: SparkSession, root: str) -> dict:
    return P.load_meta(spark, ANN, root)


def _check_meta(meta: dict, num_planes: int, dim: int,
                root: str, what: str,
                num_tables: int | None = None) -> None:
    nt = P.num_tables(meta)
    mismatches = {k: (meta.get(k), v) for k, v in (
        ("num_planes", num_planes), ("dim", dim),
        ("planes_digest", _planes_digest(num_planes, dim, nt)))
        if meta.get(k) != v}
    if num_tables is not None and num_tables != nt:
        mismatches["num_tables"] = (nt, num_tables)
    if mismatches:
        raise ValueError(
            f"incremental ANN index at {root} was built with different "
            f"parameters than this {what} (stored, given): {mismatches} "
            f"— proceeding would silently mix incompatible bucketings")


def _query_meta(spark: SparkSession, root: str,
                query_vec: "list | None" = None) -> dict:
    meta = _load_meta(spark, root)
    _check_meta(meta, meta["num_planes"], meta["dim"], root, "query")
    if query_vec is not None and len(query_vec) != meta["dim"]:
        raise ValueError(
            f"expected {meta['dim']}-dim query vector, "
            f"got {len(query_vec)}")
    return meta


def committed_ann_batches(spark: SparkSession, root: str) -> list[str]:
    return B.committed_batches(spark, root)


def read_ann_index(spark: SparkSession, root: str) -> DataFrame:
    """Every committed posting row in the root's STORED layout
    (float: vec_id, embedding, bucket, batch_id; int8: vec_id, code,
    scale, bucket, batch_id). For a storage-independent
    (vec_id, embedding) view use :func:`ann_vectors`."""
    return P.read(spark, ANN, root)


def read_ann_buckets(spark: SparkSession, root: str,
                     buckets: "list[int]",
                     parallelism: "str | None" = "bytes") -> DataFrame:
    """:func:`read_ann_index` scoped to a driver-known probed bucket
    set — the PROBE reader: a 36-bucket probe lists 36 × batches leaf
    directories instead of the whole 2^J·L × batches tree
    (postings.read)."""
    return P.read(spark, ANN, root, buckets, parallelism)


def ann_vectors(spark: SparkSession, root: str) -> DataFrame:
    """(vec_id, embedding) whatever the storage — int8 roots
    dequantize; multi-table roots return ONE copy per vector. What
    recall grading and a cross-storage migration read."""
    return P.vectors(spark, ANN, root)


def ann_ingest_delta(spark: SparkSession, root: str, emb: DataFrame,
                     batch_id: str, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     num_planes: int = NUM_PLANES, dim: int = EMB_DIM,
                     dedup_ids: bool = True,
                     corpus_batch: "str | list[str] | None" = None,
                     _crash_after: str | None = None,
                     manifest_extra: dict | None = None,
                     storage: str | None = None,
                     num_tables: int | None = None) -> dict:
    """Append a vector delta under the manifest-last commit protocol
    (postings.ingest). Returns the committed manifest (the ingest
    ledger row).

    - First ingest initializes ``_meta.json`` (the bucketing
      identity); later ingests and queries validate against it.
    - ``num_tables=L`` (multi-table LSH, the standard production
      answer to the single-hash recall ceiling): every vector is
      stored once per INDEPENDENT hyperplane table under composite
      partition key ``(t << J) | bucket_t`` — L× storage buys
      candidates OR-ed across L hash views. Probes stay literal-IN
      pruned per table; every maintenance path operates on the
      composite key unchanged. Manifest counts stay in VECTORS.
      Fixed at the first ingest like the plane count.
    - ``storage``: ``"float"`` or ``"int8"`` codes (plans/codes),
      fixed at the first ingest.
    - ``dedup_ids``: drop delta vectors whose ``vec_id`` is already
      committed. ``corpus_batch``: PROVENANCE for the cross-root fsck
      (plans/linkage.verify_linked). ``manifest_extra``: caller
      metadata (protocol keys refused). ``_crash_after="buckets"``
      is the crash-recovery test seam.
    """
    with P.ingest_lease(spark, ANN, root, batch_id) as lease:
        if storage is not None and storage not in STORAGES:
            raise ValueError(f"storage must be one of {STORAGES}, "
                             f"got {storage!r}")
        if num_tables is not None and num_tables < 1:
            raise ValueError(
                f"num_tables must be >= 1, got {num_tables}")
        if path_exists(spark, P.meta_path(root)):
            meta = _load_meta(spark, root)
            _check_meta(meta, num_planes, dim, root, "ingest",
                        num_tables)
            stored_storage = meta.get("storage", "float")
            if storage is not None and storage != stored_storage:
                raise ValueError(
                    f"incremental ANN index at {root} stores "
                    f"{stored_storage!r} postings; an ingest requesting "
                    f"{storage!r} would silently mix layouts")
        else:
            nt = num_tables or 1
            meta = {
                "kind": "ann_lsh_incremental", "num_planes": num_planes,
                "dim": dim, "storage": storage or "float",
                "planes_digest": _planes_digest(num_planes, dim, nt),
            }
            if nt > 1:   # single-table metas stay byte-identical
                meta["num_tables"] = nt
            write_text_atomic(spark, P.meta_path(root),
                              json.dumps(meta, sort_keys=True))
        nt = P.num_tables(meta)
        return P.ingest(
            spark, ANN, root, lease, meta, emb, batch_id,
            [F.col(id_col).alias("vec_id"),
             F.col(vec_col).cast("array<float>").alias("embedding")],
            lambda d: _attach_buckets(d, num_planes, dim, nt),
            dedup_ids, corpus_batch, _crash_after, manifest_extra)


def ann_incremental_topk(spark: SparkSession, root: str,
                         query_vec: list, k: int = TOP_K,
                         exclude_id: int | None = None,
                         hamming: int = 1,
                         rerank_vectors: DataFrame | None = None,
                         rerank_cut: int = 4,
                         early_exit: "bool | str" = False,
                         probe_buckets: int | None = None
                         ) -> DataFrame:
    """Top-k cosine over the COMMITTED index: probe set (query bucket
    + Hamming-≤h neighbors, default h=1) computed driver-side, so the
    scan carries a literal ``bucket IN (...)`` — static pruning to a
    fixed fraction of the 2^J bucket directories inside every
    committed batch. Scoring is the exact fixed-point cosine re-rank
    of the one-shot index (operators/similarity.ann_indexed_topk):
    for equal committed content the two return identical rows.
    ``root`` may be a pointer file written by a migration cutover
    (plans/migration.set_index_pointer) or an
    :class:`migration.IndexPointerHandle`.

    ``early_exit``: skip probed buckets whose direction-box bound
    provably cannot reach the top-k — rows identical. ``True``/
    ``"box"`` uses the own bucket's box lower bound (zero jobs, never
    slower); ``"seed"`` measures the threshold first (the cost model
    is on ``ivf_incremental_topk``). ``probe_buckets=N`` replaces the
    Hamming ball with the MARGIN-RANKED multi-probe sequence
    (:func:`multiprobe_set`) — higher recall at the same scan budget;
    the first probe is still the query's own bucket. int8 roots score
    the code cosine; ``rerank_vectors`` exact-reranks a
    ``rerank_cut``·k candidate slice."""
    from .migration import resolve_probe_location

    root = resolve_probe_location(spark, root)
    meta = _query_meta(spark, root, query_vec)
    probes = _mt_probe_list(query_vec, meta, hamming, probe_buckets)
    return P.topk(spark, ANN, root, meta,
                  read_ann_buckets(spark, root, probes), probes,
                  query_vec, k, exclude_id, rerank_vectors, rerank_cut,
                  early_exit)


def ann_pinned_topk(spark: SparkSession, root: str, pin,
                    query_vec: list, k: int = TOP_K,
                    exclude_id: int | None = None,
                    hamming: int = 1,
                    rerank_vectors: DataFrame | None = None,
                    rerank_cut: int = 4) -> DataFrame:
    """Top-k cosine over a PINNED view of the index
    (plans/snapshots.pin_snapshot): the pinned batch directories
    only, the same ``bucket IN`` pruning and exact re-rank as
    :func:`ann_incremental_topk` — a quoted similarity result re-runs
    bit-for-bit after the live index has grown, compacted, or been
    row-retained."""
    meta = _query_meta(spark, root, query_vec)
    probes = _mt_probe_list(query_vec, meta, hamming, None)
    return P.topk(spark, ANN, root, meta,
                  P.pinned_scan(spark, ANN, root, pin, meta), probes,
                  query_vec, k, exclude_id, rerank_vectors, rerank_cut)


def ann_batch_topk(spark: SparkSession, root: str,
                   queries: DataFrame, k: int = TOP_K,
                   hamming: int = 1,
                   id_col: str = "qid", vec_col: str = "embedding",
                   exclude_self: bool = True,
                   max_queries_per_job: int | None = None,
                   rerank_vectors: DataFrame | None = None,
                   rerank_cut: int = 4,
                   early_exit: "bool | str" = False,
                   chunk_concurrency: int = 1,
                   probe_buckets: int | None = None) -> DataFrame:
    """Top-k cosine for MANY queries in ONE job: per query the rows
    equal ``ann_incremental_topk``'s (same signatures via the shared
    sign fold — executor-side here — the same probe expansion as
    literal XOR masks, the same rerank and tie order; test-pinned).
    Queries → buckets (one in-row fold) exploded against the
    ``_probe_set(0, J, h)`` masks give the (qid, bucket, m) probe
    frame; the batch-probe driver (postings.batch_topk) scans the
    bucket union with static pruning, fans out against the broadcast
    pairs and keeps k per qid. Returns (qid, vec_id, cosine, bucket).

    ``max_queries_per_job`` degrades a too-big batch into a
    deterministic loop of broadcast-sized jobs (chunked ≡ unchunked
    row-for-row); ``chunk_concurrency=N`` overlaps N chunks at N× the
    peak memory the cap bounds (default 1, strict serial).
    ``early_exit``: per-QUERY bucket pruning from the direction
    boxes, rows identical (``"box"``: own-bucket floor, zero jobs;
    ``"seed"``/``"seed2"``: measured threshold with a barrier).
    ``probe_buckets=N``: each query's N cheapest boundary crossings,
    ranked EXECUTOR-side in exact DECIMAL(38,0) so per-query probe
    sets equal the single-query ``probe_buckets=N`` bit-for-bit
    (:func:`_batch_multiprobe_pairs`); composes with multi-table
    roots and early exit."""
    from ..queries.similarity import _fixed_dot
    from .migration import resolve_probe_location

    root = resolve_probe_location(spark, root)
    meta = _query_meta(spark, root)
    num_planes, dim = meta["num_planes"], meta["dim"]
    nt = P.num_tables(meta)

    q = queries.select(
        F.col(id_col).cast("bigint").alias("qid"),
        F.col(vec_col).cast("array<float>").alias("embedding"))
    masks = _probe_set(0, num_planes, hamming)
    dec_q = q.select(
        "qid", _fixed_point(F.col("embedding")).alias("qci")) \
        .withColumn("qsq", (_fixed_dot("qci", "qci").cast("double")
                            / F.lit(1e18)))
    # probe pairs carry the flip mask: m == 0 IS the query's own
    # bucket — the early-exit seed. Multi-table roots make m GLOBAL
    # ((t << J) | mask): m == 0 is then TABLE 0's own bucket, the
    # seed key the single-query probes also lead with.
    if probe_buckets is not None:
        probe_all = _batch_multiprobe_pairs(
            q, num_planes, dim, nt, probe_buckets).localCheckpoint()
    else:
        qb = _mt_bucket_frame(q, "qid", "embedding", num_planes, dim, nt)
        m_col = (F.col("m") if nt == 1
                 else F.col("m") + F.shiftleft(
                     F.shiftright(F.col("bucket"), num_planes),
                     num_planes))
        probe_all = (qb.select(
            "qid",
            F.explode(F.array(*[F.lit(int(m)) for m in masks]))
            .alias("m"), "bucket")
            .select("qid", F.col("bucket").bitwiseXOR(F.col("m"))
                    .alias("bucket"), m_col.alias("m"))
            .localCheckpoint())
    # seed2's band 2: the 1-flip band plus other tables' own buckets
    # — the within-table flip count is bit_count(m & (2^J − 1)); the
    # bits above J are table routing, not distance
    rest = F.col("m") != 0
    band = F.bit_count(F.col("m").bitwiseAND(F.lit((1 << num_planes) - 1)))
    bands = (F.col("m") == 0, rest, rest & (band <= 1), rest & (band > 1))
    # something to prune whenever a query probes > 1 bucket — a
    # multi-table root fans nt buckets per query even at hamming=0
    prunable = (len(masks) * nt > 1 if probe_buckets is None
                else probe_buckets > 1)
    return P.batch_topk(spark, ANN, root, meta, probe_all, dec_q, bands,
                        prunable, k, exclude_self, max_queries_per_job,
                        rerank_vectors, rerank_cut, early_exit,
                        chunk_concurrency)


def compact_ann_batches(spark: SparkSession, root: str,
                        batch_ids: list[str] | None = None,
                        n_files_per_bucket: int = 1,
                        rows_per_file: int | None = None) -> str:
    """Fold many per-batch partitions into one ``compact-N`` batch —
    the small-files relief for the 2^J-way per-batch fan-out
    (postings.compact). ``rows_per_file``: SIZE-AWARE mode — random
    hyperplanes on non-uniform embeddings skew bucket occupancy like
    IVF cells; a hot bucket is salted into ``ceil(rows/target)``
    write tasks with every file capped (the occupancy canary in
    ``verify_ann_index`` says when it's needed)."""
    return P.compact(spark, ANN, root, batch_ids, n_files_per_bucket,
                     rows_per_file)


def delete_vectors(spark: SparkSession, root: str,
                   vec_ids: "list[int] | DataFrame",
                   n_files_per_bucket: int = 1,
                   release_conflicting_pins: bool = False,
                   _crash_after: str | None = None) -> str:
    """ROW-LEVEL vector takedown (postings.retain) — the operation
    :func:`delete_vector_batch` cannot perform once batches are
    compacted, and the ANN-side analog of
    ``plans/corpus.delete_documents`` (``verify_linked`` names a
    taken-down document's embedding until this runs). Buckets ride
    along unchanged; deleted ids are re-admittable. Returns the new
    ``retain-N`` batch id."""
    return P.retain(spark, ANN, root, vec_ids, n_files_per_bucket,
                    release_conflicting_pins, _crash_after)


def delete_vector_batch(spark: SparkSession, root: str,
                        batch_id: str) -> None:
    """RETENTION: de-commit a live vector batch (postings.delete_batch)."""
    P.delete_batch(spark, ANN, root, batch_id)


def prune_ann_uncommitted(spark: SparkSession, root: str) -> list[str]:
    """Sweep bucket partitions with NO manifest that are not
    superseded — the orphans ``verify_ann_index`` names."""
    return P.prune_uncommitted(spark, ANN, root)


def verify_ann_index(spark: SparkSession, root: str) -> dict:
    """Consistency fsck (postings.verify: ledger, uniqueness,
    occupancy as ``bucket_occupancy``, cellstats, orphans, pins)
    plus the LSH check, reported as ``bucketing_check``: every stored
    row's partition bucket equals the bucket recomputed from its own
    embedding under ITS table's ``_meta`` planes, and on multi-table
    roots every expected (vector, table) copy exists — the drift the
    sidecar can't catch (e.g. a partition directory moved
    out-of-band). Skipped, and said so, on int8 roots: codes, not the
    original embeddings, are stored, and a bucket re-derived from the
    dequantized vector can legitimately differ near a hyperplane."""
    meta = _load_meta(spark, root)
    nt = P.num_tables(meta)

    def bucketing(ix, ms, live):
        if ix is None:
            return "skipped: no live data", []
        if meta.get("storage", "float") == "int8":
            return ("skipped: int8 storage stores codes; bucket "
                    "re-derivation needs the original embeddings"), []
        found = []
        # one pass via the same multi-table fold the ingest ran,
        # joined on (vec_id, composite bucket)
        expected = _mt_bucket_frame(
            ix.select("vec_id", "embedding")
            .filter(F.col("bucket") < (1 << meta["num_planes"]))
            if nt > 1 else ix.select("vec_id", "embedding"),
            "vec_id", "embedding", meta["num_planes"], meta["dim"], nt)
        n_drift = (ix.select("vec_id", "bucket")
                   .join(expected.withColumnRenamed("bucket", "_want"),
                         "vec_id")
                   .groupBy("vec_id", "bucket")
                   .agg(F.max(F.when(F.col("bucket") == F.col("_want"),
                                     1).otherwise(0)).alias("_ok"))
                   .filter(F.col("_ok") == 0)
                   .count())
        if n_drift:
            found.append(
                f"bucketing: {n_drift} rows sit in a partition whose "
                f"bucket != the bucket of their own embedding")
        if nt > 1:
            # reverse direction: membership + row count alone would
            # miss a doubled copy shadowing a missing one
            n_missing = (expected.join(ix.select("vec_id", "bucket"),
                                       ["vec_id", "bucket"],
                                       "left_anti").count())
            if n_missing:
                found.append(
                    f"bucketing: {n_missing} expected per-table "
                    f"copies are missing from the live index")
        return "checked", found

    return P.verify(spark, ANN, root, meta, "bucketing_check",
                    bucketing, [])


# ------------------------------------------------ probe-key expansion

def _probe_set(b: int, num_planes: int, hamming: int) -> list[int]:
    """The query's probe buckets: every bucket within Hamming
    distance ≤ ``hamming`` of the query bucket — the LSH probe
    FAN-OUT knob. hamming=1 (the default everywhere) probes J+1 of
    2^J buckets; hamming=2 adds the J·(J-1)/2 two-bit flips. The
    recall/latency trade is measured, not guessed:
    plans/recall.measure_recall + tools/recall.py."""
    from itertools import combinations

    return [b ^ sum(1 << j for j in flips)
            for r in range(hamming + 1)
            for flips in combinations(range(num_planes), r)]


def multiprobe_set(query_vec: list, num_planes: int, dim: int,
                   n_buckets: int) -> list[int]:
    """MARGIN-RANKED probe sequence (VERDICT r12 brief #7 — the
    multi-probe LSH of Lv et al., VLDB'07): instead of the blind
    Hamming-ball fan-out (`_probe_set` — every 1-bit flip equally
    likely to help), rank candidate buckets by the query's own
    SIGNED-MARGIN distances: flipping plane j moves the probe across
    a boundary the query sits |margin_j| away from, so the cheapest
    flips (smallest Σ margin² over the flipped set) are the buckets
    most likely to hold near neighbors. Probing a BUDGET of the
    best-ranked buckets beats the Hamming ball at equal scan rows —
    measured per-round in RECALL_r{N}.json (tools/recall.py).

    Driver-side and exact: margins are the same integer plane dots
    ``query_bucket`` signs (operators/similarity.query_margins);
    scores are arbitrary-precision Σ margin² — deterministic, ties
    broken by flip mask (the heap path carries (score, mask, idxs)
    entries so equal-score flip sets pop in the SAME raw-mask order
    as the enumeration's (score, mask) sort — ADVICE r13). The
    first element is always the query's own bucket (empty flip set,
    score 0). For J ≤ 16 the 2^J flip sets are enumerated outright
    (≤ 65536 driver-side scores); larger J uses a best-first heap
    over margin-sorted flips (extend-last / replace-last — the
    classic Lv et al. generation, every subset reached exactly once
    in nondecreasing score order) without materializing 2^J
    candidates. Both live in :func:`_ranked_flips`, shared with the
    multi-table merged ranking (:func:`_mt_probe_list`)."""
    from ..operators.similarity import query_bucket

    b = query_bucket(query_vec, num_planes, dim)
    n_buckets = max(1, min(n_buckets, 1 << num_planes))
    return [b ^ mask for _, mask in
            _ranked_flips(query_vec, num_planes, dim, n_buckets)]


def _ranked_flips(query_vec: list, num_planes: int, dim: int,
                  limit: int, table: int = 0) -> "list[tuple]":
    """[(Σ margin², flip mask)] — the first ``limit`` flip sets of
    one table's hyperplanes in nondecreasing-score order, ties by
    raw mask (the :func:`multiprobe_set` ranking, factored out so
    multi-table probing can MERGE the per-table streams by score).
    Scores are exact arbitrary-precision integers."""
    from ..operators.similarity import query_margins

    m2 = [m * m for m in query_margins(query_vec, num_planes, dim,
                                       table)]
    if num_planes <= 16:
        ranked = sorted(range(1 << num_planes),
                        key=lambda mask: (
                            sum(m2[j] for j in range(num_planes)
                                if mask >> j & 1), mask))
        return [(sum(m2[j] for j in range(num_planes)
                     if mask >> j & 1), mask)
                for mask in ranked[:limit]]
    import heapq

    order = sorted(range(num_planes), key=lambda j: (m2[j], j))
    sm2 = [m2[j] for j in order]

    def mask_of(idxs):
        out = 0
        for i in idxs:
            out |= 1 << order[i]
        return out

    heap = [(sm2[0], mask_of((0,)), (0,))]
    got = [(0, 0)]
    seen = set()
    while heap and len(got) < limit:
        score, mask, idxs = heapq.heappop(heap)
        if idxs in seen:
            continue
        seen.add(idxs)
        got.append((score, mask))
        last = idxs[-1]
        if last + 1 < num_planes:
            nx = idxs[:-1] + (last + 1,)
            heapq.heappush(heap, (score - sm2[last] + sm2[last + 1],
                                  mask_of(nx), nx))
            ext = idxs + (last + 1,)
            heapq.heappush(heap, (score + sm2[last + 1],
                                  mask_of(ext), ext))
    return got


def _mt_probe_list(query_vec: list, meta: dict, hamming: int,
                   probe_buckets: int | None) -> list[int]:
    """The COMPOSITE probe-bucket list for a root of ``num_tables``
    hyperplane tables (multi-table LSH — VERDICT r13 #3): composite
    id ``(t << J) | bucket_t``, which is exactly the stored
    partition key, so the literal IN-list pruning is unchanged.

    - Hamming mode: each table's own bucket + its ≤h-flip ball,
      tables concatenated (table 0's own bucket FIRST — the
      early-exit seed).
    - ``probe_buckets=N`` budget mode: the per-table margin-ranked
      flip streams (:func:`_ranked_flips`) are MERGED by exact
      score (ties → lower table, lower mask), so the N probed
      buckets are globally the cheapest boundary crossings across
      ALL tables — all L own buckets (score 0) lead.

    A single-table root reproduces :func:`_probe_set` /
    :func:`multiprobe_set` exactly."""
    from ..operators.similarity import query_bucket

    num_planes, dim = meta["num_planes"], meta["dim"]
    nt = P.num_tables(meta)
    if nt == 1:
        b = query_bucket(query_vec, num_planes, dim)
        return (multiprobe_set(query_vec, num_planes, dim,
                               probe_buckets)
                if probe_buckets is not None
                else _probe_set(b, num_planes, hamming))
    own = [query_bucket(query_vec, num_planes, dim, t)
           for t in range(nt)]
    if probe_buckets is None:
        return [(t << num_planes) | p
                for t in range(nt)
                for p in _probe_set(own[t], num_planes, hamming)]
    n = max(1, min(probe_buckets, nt << num_planes))
    import heapq

    merged = heapq.merge(*[
        [(s, t, mask) for s, mask in
         _ranked_flips(query_vec, num_planes, dim, n, t)]
        for t in range(nt)])
    out = []
    for _, t, mask in merged:
        out.append((t << num_planes) | (own[t] ^ mask))
        if len(out) >= n:
            break
    return out


def _mt_bucket_frame(emb: DataFrame, id_col: str, vec_col: str,
                     num_planes: int, dim: int,
                     num_tables: int) -> DataFrame:
    """(id, composite bucket) — ``num_tables`` rows per vector, one
    per hyperplane table, in ONE pass (the nano decode is shared;
    each table's signature folds over it; posexplode fans the L
    composite ids out row-side — no joins, no shuffle). L=1
    delegates to :func:`operators.similarity.lsh_buckets` verbatim."""
    from ..operators.similarity import _check_id_col, _pack_bits_sql

    if num_tables <= 1:
        return lsh_buckets(emb, id_col, vec_col, num_planes, dim)
    _check_id_col(id_col)
    # table t's composite bucket packs its J staged dots and adds the
    # t<<J table prefix
    arr = "array(" + ", ".join(
        f"({_pack_bits_sql(f'_d{t}_', num_planes)} + {t << num_planes}L)"
        for t in range(num_tables)) + ")"
    return (_staged_dots(emb, [id_col], vec_col, num_planes, dim,
                         num_tables, "multi-table bucketing")
            .select(id_col, F.explode(F.expr(arr)).alias("bucket")))


def _staged_dots(frame: DataFrame, carry: list, vec_col: str,
                 num_planes: int, dim: int, num_tables: int,
                 what: str) -> DataFrame:
    """``carry`` + every table's signed plane dots ``_d{t}_{j}`` of
    ``vec_col``'s fixed-point decode, as SQL text over staged
    per-plane columns (operators.similarity._signed_sum_sql: the
    Column-tree build cost thousands of py4j round trips, and one
    fused expression overflows janino's 64 KB method limit). A
    wrong-dim vector raises per row."""
    from ..operators.similarity import _plane_signs, _signed_sum_sql

    ci = F.when(
        F.size(F.col(vec_col)) == dim, _fixed_point(F.col(vec_col))
    ).otherwise(F.raise_error(F.concat(
        F.lit(f"{what}: expected {dim}-dim embedding, got "),
        F.size(F.col(vec_col)).cast("string"))))
    cols = [F.expr(_signed_sum_sql("_ci", row)).alias(f"_d{t}_{j}")
            for t in range(num_tables)
            for j, row in enumerate(_plane_signs(num_planes, dim, t))]
    return frame.select(*carry, ci.alias("_ci")).select(*carry, *cols)


def _attach_buckets(delta: DataFrame, num_planes: int, dim: int,
                    num_tables: int) -> DataFrame:
    """``delta`` columns + composite ``bucket``, computed IN-ROW —
    the ingest form of :func:`_mt_bucket_frame`: the same staged
    SQL-text sign folds, but the payload columns ride through the
    staging selects and the L composite ids explode row-side, so no
    join (no Exchange pair, no broadcast build) ever re-attaches the
    payload to rows it was derived from. Rows are identical: same
    signs, same pack, same L-way fan-out per vector."""
    from ..operators.similarity import _pack_bits_sql

    carry = delta.columns
    per_table = [_pack_bits_sql(f"_d{t}_", num_planes)
                 for t in range(num_tables)]
    per_table = [per_table[0]] + [f"({p} + {t << num_planes}L)"
                                  for t, p in enumerate(per_table) if t]
    staged = _staged_dots(delta, carry, "embedding", num_planes, dim,
                          num_tables, "ann ingest bucketing")
    if num_tables == 1:
        return staged.select(
            *carry, F.expr(per_table[0]).alias("bucket"))
    arr = "array(" + ", ".join(per_table) + ")"
    return staged.select(*carry,
                         F.explode(F.expr(arr)).alias("bucket"))


def _batch_multiprobe_pairs(q: DataFrame, num_planes: int, dim: int,
                            num_tables: int,
                            n_buckets: int) -> DataFrame:
    """(qid, bucket, m) probe pairs for the BATCH margin-ranked
    multi-probe (the executor-side :func:`_mt_probe_list` /
    :func:`multiprobe_set`): per query and table, the J signed plane
    dots are computed once (the same integer folds ``lsh_buckets``
    signs), every flip mask is generated executor-side
    (``sequence(0, 2^J−1)`` — no 2^J literals in the plan), scored
    ``Σ_{j∈mask} margin_j²`` in DECIMAL(38,0) — margins reach ~2^39,
    squares ~2^78: exact in 38 digits, so the executor ranking is
    BIT-IDENTICAL to the driver's arbitrary-precision integers —
    and a per-qid window keeps the ``n_buckets`` cheapest boundary
    crossings in the single-query order ((score, table, mask)).
    ``m`` is the global flip id ((t << J) | mask): m == 0 is
    table 0's own bucket, the early-exit seed. The frame is
    query-batch-sized (Q × 2^J rows pre-aggregate) — the broadcast
    contract the batch probes already assume; chunk via
    ``max_queries_per_job`` past that."""
    if num_planes > 16:
        # the flip enumeration materializes 2^J rows per (query,
        # table) pre-window; past J=16 that is ≥65k rows/query —
        # the single-query path switches to the driver heap there,
        # the batch path refuses rather than silently exploding.
        raise ValueError(
            f"batch probe_buckets supports num_planes <= 16 "
            f"(got {num_planes}): the executor-side flip enumeration "
            f"is 2^J rows per query and table; use single-query "
            f"probes or a smaller J")
    n_buckets = max(1, min(n_buckets, num_tables << num_planes))
    tb = "array(" + ", ".join(
        f"struct({t} AS t, array("
        + ", ".join(f"_d{t}_{j}" for j in range(num_planes))
        + ") AS dots)" for t in range(num_tables)) + ")"
    per_t = (_staged_dots(q, ["qid"], "embedding", num_planes, dim,
                          num_tables, "batch multiprobe")
             .select("qid", F.explode(F.expr(tb)).alias("tb"))
             .select("qid", F.col("tb.t").alias("t"),
                     F.col("tb.dots").alias("dots")))
    # own bucket from the SAME dots the margins come from
    own = None
    for j in range(num_planes):
        bit = F.when(F.element_at("dots", j + 1) > 0, F.lit(1)
                     .cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        term = F.shiftleft(bit, j)
        own = term if own is None else own + term
    per_t = per_t.withColumn("own", own)
    masks = per_t.select(
        "qid", "t", "own", "dots",
        F.explode(F.sequence(
            F.lit(0), F.lit((1 << num_planes) - 1))).alias("mask"))
    # Σ_{j∈mask} margin_j² as a driver-side fold over the J plane
    # indices (J is a Python int; F.shiftright's numBits must be a
    # Python int, so a lambda-bound Column cannot index the bit —
    # `1 << j` below is a Python literal, same shape as the `own`
    # fold above). Terms stay DECIMAL so the executor ranking is
    # bit-identical to the driver's arbitrary-precision integers.
    score = F.lit(0).cast("decimal(38,0)")
    for j in range(num_planes):
        dj = F.element_at("dots", j + 1).cast("decimal(19,0)")
        score = score + F.when(
            F.col("mask").bitwiseAND(F.lit(1 << j)) != 0, dj * dj
        ).otherwise(F.lit(0).cast("decimal(38,0)"))
    score = score.cast("decimal(38,0)")
    # per-qid top-n_buckets as ONE aggregate (r17, VERDICT r16 #3;
    # guide §2.3 aggregate-before-shuffle): the former
    # row_number-over-window shape shuffled AND SORTED the full
    # Q×L×2^J mask frame to keep n_buckets rows per query; the
    # aggregate shuffles the same rows but replaces the global
    # per-partition sort + rank filter with one hash aggregate whose
    # per-group state is the collected mask structs — BOUNDED at
    # L·2^J ≤ L·65536 by the num_planes<=16 refusal above, so the
    # group never outgrows memory. array_sort's ascending struct
    # order IS the window's (score, t, mask) order (t, mask unique
    # per qid → `own` can never decide), so the kept set and its
    # order are bit-identical.
    ranked = (masks.withColumn("score", score)
              .groupBy("qid")
              .agg(F.slice(F.array_sort(F.collect_list(F.struct(
                  F.col("score").alias("s"), F.col("t"),
                  F.col("mask"), F.col("own")))),
                  1, n_buckets).alias("_top"))
              .select("qid", F.explode("_top").alias("_e"))
              .select("qid", F.col("_e.t").alias("t"),
                      F.col("_e.mask").alias("mask"),
                      F.col("_e.own").alias("own")))
    # cast t/mask to bigint BEFORE shifting (matches
    # _mt_bucket_frame's `t << J` bigint literal — int32 shifts
    # would wrap for large J·t composites)
    t64 = F.col("t").cast("bigint")
    m64 = F.col("mask").cast("bigint")
    return ranked.select(
        "qid",
        (F.shiftleft(t64, num_planes)
         + F.col("own").bitwiseXOR(m64)).alias("bucket"),
        (F.shiftleft(t64, num_planes) + m64).alias("m"))

