"""THE POSTING-INDEX CORE — one implementation of the protocol both
incrementally-maintained vector indexes share (plans/ann_index.py:
LSH buckets; plans/ivf_index.py: frozen-quantizer IVF cells). Both
are the same structure: vectors stored as Parquet PARTITIONED
POSTINGS under a manifest-last commit, probed by a driver- or
executor-derived key set and pruned per key by the direction-box
bound (plans/cellstats). A :class:`Family` names what differs — the
table, the partition column and its type, the op-name prefix — and
the family modules supply placement, probe-key expansion and their
own fsck check; everything else lives here once:

- meta load, stored schema, the full and key-scoped readers and the
  ``(vec_id, embedding)`` view;
- the ingest skeleton: reserved-prefix check, writer lease, id-dedup
  anti-join, checkpoint, partitioned write, crash seam, direction-box
  widening between the fence and the manifest PUT;
- the posting side of compaction (the size-aware writer, the box
  recompute), row-level retention (the ×L vector count), batch
  delete and prune-uncommitted;
- the shared fsck invariants (the ×L ledger scale, uniqueness,
  occupancy, cellstats coverage, table bytes);
- the single and batch scoring expressions, the int8 rerank tails
  and the per-qid top-k tail;
- the batch-probe driver: fan-out, key union, qid-range chunking
  and the box/seed/seed2 early exit.

Layout per root: ``{root}/{table}/batch_id=B/{part}=N/`` (the
vectors, partitioned by batch THEN key, so a probe prunes statically
on ``{part} IN (...)`` inside every committed batch);
``{root}/_manifests/{batch_id}.json`` (written LAST: the commit;
the manifest-last protocol itself — writer lease, snapshot cache,
supersession, batch delete, prunes, crash recovery, the ledger and
orphans fsck sections — is plans/batches, shared with the corpus);
``{root}/_meta.json`` (the family's identity, validated by every
ingest and probe).

Grounding: REPOSE (ICDE 2021) — one distributed top-k framework with
a pluggable partitioner and per-partition pruning bounds; LSH
buckets and IVF cells are two such partitioners.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fs import path_exists
from ..operators.similarity import _fixed_point
from . import batches as B
from .batches import corpus_writer_lock

META_NAME = "_meta.json"
STORAGES = ("float", "int8")


@dataclass(frozen=True)
class Family:
    """What one index family hands the core.

    ``q_in_pairs``: the batch probe frame's (qid, key) pairs also
    carry the query's fixed-point decode ``qci`` (IVF ranks cells
    against it, so it rides along and ‖q‖² folds per row); otherwise
    the decoded queries (qid, qci, qsq) are a separate frame joined
    by qid (LSH). ``rank``: the batch probe frame's probe-order
    column — its seed/band predicates come from the family."""
    prefix: str        # op names "{prefix}_ingest:{batch}", ...
    init_hint: str     # how a root gets its _meta.json
    table: str         # posting table dir, also the crash-seam name
    part: str          # partition column
    part_type: str     # its stored SQL type
    rank: str          # batch probe-order column
    q_in_pairs: bool

    @property
    def pair_cols(self) -> tuple:
        return (("qid", "qci", self.part) if self.q_in_pairs
                else ("qid", self.part))


# ---------------------------------------------------------------- meta

def meta_path(root: str) -> str:
    return f"{root}/{META_NAME}"


def load_meta(spark: SparkSession, fam: Family, root: str) -> dict:
    from ..fs import read_json_doc
    doc = read_json_doc(spark, meta_path(root))   # memoized (fs.py)
    if doc is None:
        raise ValueError(
            f"incremental {fam.prefix.upper()} root {root} has no "
            f"{META_NAME} — not an initialized index ({fam.init_hint})")
    return dict(doc)   # shallow copy: the cached doc is shared


def num_tables(meta: dict) -> int:
    """L, the LSH hyperplane-table count (absent → 1: every IVF root
    and every single-table LSH root). A multi-table root stores one
    row per vector per table; manifest counts stay in VECTORS."""
    return int(meta.get("num_tables", 1))


def schema(fam: Family, meta: dict) -> str:
    # explicit: partition-column types included, and an index whose
    # committed batches are all empty has no footers to infer from
    if meta.get("storage", "float") == "int8":
        from .codes import CODE_COLS
        return (f"vec_id BIGINT, {CODE_COLS}, "
                f"{fam.part} {fam.part_type}, batch_id STRING")
    return (f"vec_id BIGINT, embedding ARRAY<FLOAT>, "
            f"{fam.part} {fam.part_type}, batch_id STRING")


# ------------------------------------------------------------- readers

def read(spark: SparkSession, fam: Family, root: str,
         keys: "list[int] | None" = None,
         parallelism: "str | None" = "bytes") -> DataFrame:
    """Every committed posting row in the STORED layout — present ∩
    committed (batches.visible_scan) — or, with ``keys``, only those
    of a driver-known probe key set: then only the
    ``batch_id=B/{part}=K`` leaf dirs reach the scan
    (batches.visible_scan_keys; rows identical to the full read
    filtered on ``{part} IN keys``). ``parallelism``: ``"bytes"`` for
    single probes, ``None`` (Spark's splitting) for batch fan-outs
    whose per-byte scoring work is ~Q×."""
    meta = load_meta(spark, fam, root)
    committed = B.committed_batches(spark, root)
    path = f"{root}/{fam.table}"
    if not committed or not path_exists(spark, path):
        return spark.createDataFrame([], schema(fam, meta))
    if keys is None:
        return B.visible_scan(spark, path, committed, schema(fam, meta))
    return B.visible_scan_keys(spark, path, committed,
                               schema(fam, meta), fam.part, keys,
                               parallelism)


def vectors(spark: SparkSession, fam: Family, root: str) -> DataFrame:
    """(vec_id, embedding) whatever the storage: int8 roots dequantize
    (plans/codes.dequant_embedding); multi-table LSH roots return the
    table-0 copy (a static partition filter, not a dedup shuffle)."""
    meta = load_meta(spark, fam, root)
    scan = read(spark, fam, root)
    if num_tables(meta) > 1:
        scan = scan.filter(
            F.col(fam.part) < (1 << meta["num_planes"]))
    if meta.get("storage", "float") == "int8":
        from .codes import dequant_embedding
        return scan.select(
            "vec_id",
            dequant_embedding(F.col("code"), F.col("scale"))
            .alias("embedding"))
    return scan.select("vec_id", "embedding")


def pinned_scan(spark: SparkSession, fam: Family, root: str, pin,
                meta: dict) -> DataFrame:
    """The pinned view's posting rows (plans/snapshots — path
    selection over the pin's batch directories)."""
    from .snapshots import read_pinned_table

    return read_pinned_table(spark, root, pin, fam.table,
                             schema=schema(fam, meta))


# -------------------------------------------------------------- ingest

def merge_manifest_extra(manifest: dict, extra: dict | None) -> dict:
    """Fold caller metadata into a manifest about to commit —
    protocol keys (counts, identity, supersession, provenance) are
    refused so an extra can never alter visibility or ledger
    semantics."""
    if not extra:
        return manifest
    reserved = {"batch_id", "n_input", "n_id_dupes", "n_admitted",
                "replaces", "corpus_batch", "cell_source",
                "released_pins", "n_deleted"}
    bad = sorted(reserved & set(extra))
    if bad:
        raise ValueError(
            f"manifest_extra must not override protocol keys {bad}")
    return {**manifest, **extra}


@contextmanager
def ingest_lease(spark: SparkSession, fam: Family, root: str,
                 batch_id: str):
    """The writer lease an ingest runs under; maintenance batch-id
    prefixes are refused first."""
    if batch_id.startswith(("compact-", "retain-")):
        raise ValueError(
            f"batch_id {batch_id!r} uses a reserved maintenance prefix")
    with corpus_writer_lock(spark, root,
                            op=f"{fam.prefix}_ingest:{batch_id}") as lease:
        yield lease


def ingest(spark: SparkSession, fam: Family, root: str, lease,
           meta: dict, emb: DataFrame, batch_id: str, cols: list,
           place, dedup_ids: bool,
           corpus_batch: "str | list[str] | None",
           _crash_after: str | None, manifest_extra: dict | None,
           extra: dict | None = None) -> dict:
    """Append ``emb.select(*cols)`` (vec_id, embedding[, family
    columns]) as batch ``batch_id`` under the manifest-last commit;
    lease held, ``meta`` already validated or created by the family.
    ``place(delta)`` adds the partition column to the admitted
    (checkpointed) delta — an in-row map, so the write job carries
    no placement exchange. ``extra``: family manifest keys.

    - ``dedup_ids``: delta vec_ids already committed are dropped by
      an anti-join against the column-pruned id scan (the at-scale
      idempotence for re-delivered rows; batch-level exactly-once is
      by manifest identity regardless).
    - int8 roots store codes (plans/codes): placement used the
      ORIGINAL embedding; codes arriving WITH the delta (an int8→int8
      migration) are stored verbatim.
    - Crash recovery is batches.begin: an unmanifested
      partition is swept on same-id retry, readers never see it, the
      manifest write IS the commit. ``_crash_after=fam.table`` is the
      test seam.
    - The direction boxes widen AFTER the fence and BEFORE the
      manifest (a crash leaves a sound superset box), folded over the
      checkpointed lineage rather than a read-back of the written
      partition: values identical, no re-listing of the per-key tiny
      files (plans/cellstats)."""
    storage, dim = meta.get("storage", "float"), meta["dim"]
    ms = B.begin(spark, root, batch_id, (fam.table,))
    committed = B.live(ms)
    path = f"{root}/{fam.table}"

    if (storage == "int8" and "code" in emb.columns
            and "scale" in emb.columns):
        cols = [*cols,
                F.col("code").cast("array<tinyint>").alias("code"),
                F.col("scale").cast("bigint").alias("scale")]
    delta = emb.select(*cols)
    n_input = delta.count()
    # path_exists guard: committed batches that all admitted zero
    # vectors leave no table directory — the anti-join is a no-op
    if dedup_ids and committed and path_exists(spark, path):
        ids = B.visible_scan(spark, path, committed,
                             schema(fam, meta)).select("vec_id")
        delta = delta.join(ids, "vec_id", "left_anti")
    delta = delta.localCheckpoint()
    n_admitted = delta.count()
    lease.renew()

    tagged = place(delta).withColumn("batch_id", F.lit(batch_id))
    payload = ["embedding"]
    if storage == "int8":
        from .codes import attach_codes
        tagged = attach_codes(tagged, dim,
                              f"{fam.prefix}_ingest_delta({batch_id})")
        payload = ["code", "scale"]
    stored = tagged.select("vec_id", *payload, fam.part, "batch_id")
    if n_admitted:
        # repartition(part): each key directory is written by the
        # tasks owning its rows — no tasks×keys file blowup
        (stored.repartition(F.col(fam.part))
         .write.mode("append").partitionBy("batch_id", fam.part)
         .parquet(path))
    if _crash_after == fam.table:
        raise RuntimeError(
            f"injected crash after {fam.table} write (batch {batch_id})")

    manifest = {"batch_id": batch_id, "n_input": n_input,
                "n_id_dupes": n_input - n_admitted,
                "n_admitted": n_admitted, **(extra or {})}
    if corpus_batch is not None:
        manifest["corpus_batch"] = corpus_batch
    manifest = merge_manifest_extra(manifest, manifest_extra)

    def widen():
        from .cellstats import widen_stats
        widen_stats(spark, root, stored, fam.part, storage, dim)

    B.commit(spark, root, lease, ms, manifest,
             before_put=widen if n_admitted else None)
    return manifest


# --------------------------------------------------------- maintenance

def size_aware_writer(rows: DataFrame, part_col: str,
                      n_files_per_part: int,
                      rows_per_file: int | None):
    """Fixed ``n_files_per_part`` files per key (the default), or —
    with ``rows_per_file`` — each key salted into
    ``ceil(rows/target)`` shuffle keys so a hot key's rewrite
    parallelizes (the per-key counts table is bounded by the key
    domain — broadcast), with ``maxRecordsPerFile`` enforcing the
    exact per-file cap even where two salts hash to one task."""
    if rows_per_file is None:
        return rows.repartition(n_files_per_part,
                                F.col(part_col)).write
    counts = rows.groupBy(part_col).agg(F.count("*").alias("_n"))
    salted = (rows.join(F.broadcast(counts), part_col)
              .withColumn("_file", F.pmod(
                  F.hash("vec_id"),
                  F.greatest(F.lit(1),
                             F.ceil(F.col("_n") / rows_per_file))
                  .cast("int"))))
    return (salted.repartition(F.col(part_col), F.col("_file"))
            .drop("_n", "_file")
            .write.option("maxRecordsPerFile", rows_per_file))


def compact(spark: SparkSession, fam: Family, root: str,
            batch_ids: list[str] | None, n_files_per_part: int,
            rows_per_file: int | None, extra=None) -> str:
    """Fold live batches into one ``compact-N`` batch
    (batches.compact), written per key by :func:`size_aware_writer`;
    after the commit and prune the direction boxes are recomputed
    exactly from the rewritten rows (the re-tightening pass; also
    upgrades legacy pre-stats roots). ``extra(ms, ids)``: family
    manifest keys."""
    with corpus_writer_lock(spark, root,
                            op=f"{fam.prefix}_compact") as lease:
        meta = load_meta(spark, fam, root)

        def manifest_extra(ms, ids):
            out = extra(ms, ids) if extra else {}
            if rows_per_file is not None:
                # the advisory's compact_hot suppression reads the
                # target (advisory._hot_suppressed)
                out["rows_per_file"] = rows_per_file
            return out

        cid = B.compact(
            spark, root, lease, batch_ids, {fam.table: schema(fam, meta)},
            lambda rows: size_aware_writer(
                rows, fam.part, n_files_per_part, rows_per_file)
            .partitionBy("batch_id", fam.part),
            ("n_input", "n_id_dupes", "n_admitted"), manifest_extra)
        from .cellstats import recompute_stats
        recompute_stats(spark, root, read(spark, fam, root),
                        fam.part, meta.get("storage", "float"),
                        meta["dim"])
        return cid


def retain(spark: SparkSession, fam: Family, root: str,
           vec_ids: "list[int] | DataFrame", n_files_per_part: int,
           release_conflicting_pins: bool,
           _crash_after: str | None) -> str:
    """ROW-LEVEL takedown (batches.retain): the live batches holding
    any target id are filter-and-rewritten under a fresh ``retain-N``
    batch — surviving rows keep their stored key, so placement holds
    by construction. ``vec_ids``: a list, or a one-column DataFrame.
    Manifest counts stay in VECTORS (distinct ids on multi-table
    roots)."""
    def write(surv, cid, n):
        if n:
            (surv.repartition(n_files_per_part, F.col(fam.part))
             .write.mode("append").partitionBy("batch_id", fam.part)
             .parquet(f"{root}/{fam.table}"))

    with corpus_writer_lock(spark, root,
                            op=f"{fam.prefix}_retain") as lease:
        meta = load_meta(spark, fam, root)
        count = ((lambda s: s.select("vec_id").distinct().count())
                 if num_tables(meta) > 1 else DataFrame.count)
        return B.retain(spark, root, lease, (fam.table,),
                        schema(fam, meta), "vec_id", vec_ids,
                        "embeddings", release_conflicting_pins, write,
                        count, _crash_after)


def delete_batch(spark: SparkSession, fam: Family, root: str,
                 batch_id: str) -> None:
    """RETENTION: de-commit a live batch (batches.delete_batch); its
    ids become re-admittable through the id-dedup gate."""
    B.delete_batch(spark, root, batch_id, (fam.table,),
                   op=f"{fam.prefix}_delete:{batch_id}")


def prune_uncommitted(spark: SparkSession, fam: Family,
                      root: str) -> list[str]:
    """Sweep partitions with NO manifest that are not superseded —
    crashed ingests never retried under the same id (the fsck NAMES
    them as orphans). Under the writer lease, so an in-flight
    ingest's unmanifested batch is never swept."""
    with corpus_writer_lock(
            spark, root, op=f"{fam.prefix}_prune_uncommitted") as lease:
        return B.prune_uncommitted(spark, root, (fam.table,), lease)


# ---------------------------------------------------------------- fsck

def verify(spark: SparkSession, fam: Family, root: str, meta: dict,
           check_key: str, check, violations: list[str]) -> dict:
    """The shared fsck. Invariants:

    - **ledger**: every live batch holds exactly its manifest's
      ``n_admitted`` vectors × tables (a missing data directory under
      live manifests is a per-batch violation, never a silent skip);
    - **uniqueness**: every vec_id appears in exactly one row per
      table across the live index;
    - the family's own check, ``check(ix, ms, live) -> (status,
      violations)`` reported under ``check_key`` (``ix`` is None when
      there is no live data);
    - **cellstats**: the direction boxes cover every live row;
    - **orphans**: unmanifested/superseded partitions still on disk
      (snapshot-pinned ones are reported as held, not garbage).

    The report carries the OCCUPANCY canary (max/median/mean rows
    per occupied key + the hottest key): skewed placement is visible
    before probe latency shows it; size-aware compaction and
    ``migration.migrate_index`` are the responses. One aggregate
    scan each; nothing collected row-wise. ``violations``: findings
    the family made before the shared checks."""
    import statistics

    from ..fs import dir_bytes
    from .cellstats import verify_stats

    part = fam.part
    storage = meta.get("storage", "float")
    ms = B.load_manifests(spark, root)
    live = B.live(ms)
    path = f"{root}/{fam.table}"
    ix = B.read_live(spark, root, fam.table, live, schema(fam, meta))
    nt = num_tables(meta)
    occupancy: dict = {f"n_{part}s_occupied": 0, "max": 0,
                       "median": 0, "mean": 0.0,
                       f"hottest_{part}": None}
    # ×L: a multi-table root stores one row per vector per table
    n_rows = B.ledger(ms, live, ix, path, violations, scale=nt)
    if ix is not None:
        # exactly one row per vector per table — a multi-table vector
        # missing from some table is as broken as a duplicate id
        n_dupes = (ix.groupBy("vec_id")
                   .agg(F.count("*").alias("n"))
                   .filter(F.col("n") != nt).count())
        if n_dupes:
            violations.append(
                f"uniqueness: {n_dupes} vec_ids do not appear in "
                f"exactly {nt} live index row(s)"
                + (" (one per table)" if nt > 1 else ""))
        per_key = {int(r[part]): int(r.n) for r in
                   ix.groupBy(part)
                   .agg(F.count("*").alias("n")).collect()
                   if r[part] is not None}
        if per_key:
            occ = sorted(per_key.values())
            occupancy = {
                f"n_{part}s_occupied": len(occ),
                "max": occ[-1],
                "median": statistics.median(occ),
                "mean": round(sum(occ) / len(occ), 2),
                f"hottest_{part}": max(per_key, key=per_key.get)}
    status, found = check(ix, ms, live)
    violations += found

    if ix is not None:
        cellstats_check, cs_viol = verify_stats(
            spark, root, ix, part, storage, meta["dim"])
        violations += cs_viol
    else:
        cellstats_check = "skipped: no live data"

    return {"live_batches": len(live), "index_rows": n_rows,
            f"{part}_occupancy": occupancy,
            "storage": storage,
            "cellstats_check": cellstats_check,
            check_key: status,
            "table_bytes": (dir_bytes(spark, path)
                            if path_exists(spark, path) else 0),
            **B.orphans(spark, root, (fam.table,), live),
            "violations": violations}


# ------------------------------------------------------ single probes

def qdec(query_vec: list) -> "tuple[list, float]":
    """(qci, qsq): the nano-unit fixed-point decode of a query vector
    plus its ‖q‖²/1e18 — the driver-side values every probe uses."""
    import math

    qci = [math.floor(float(x) * 1000000000.0 + 0.5)
           for x in query_vec]
    return qci, float(sum(c * c for c in qci)) / 1e18


def scores(fam: Family, scan: DataFrame, qci: list, qsq: float,
           exclude_id: int | None, storage: str) -> DataFrame:
    """UNSORTED exact scored rows (vec_id, cosine, part) of an
    already key-pruned scan — the ONE single-query scoring
    expression, so the plain, early-exit, pinned and rerank probes
    rank literally the same values: the exact fixed-point cosine
    (float) or the scale-free code cosine (int8, plans/codes). A
    stored zero vector folds to NULL cosine (ranked last), never an
    ANSI divide-by-zero."""
    if exclude_id is not None:
        scan = scan.filter(F.col("vec_id") != exclude_id)
    qarr = F.array(*[F.lit(c).cast("bigint") for c in qci])
    if storage == "int8":
        from .codes import code_cosine
        return scan.select(
            "vec_id",
            code_cosine(qarr, F.col("code"), F.lit(qsq))
            .alias("cosine"), fam.part)
    from ..queries.similarity import _fixed_dot

    dec = scan.select("vec_id", fam.part,
                      _fixed_point(F.col("embedding")).alias("ci"),
                      qarr.alias("qci"))
    scored = dec.select(
        "vec_id", fam.part,
        (_fixed_dot("ci", "qci").cast("double") / F.lit(1e18))
        .alias("dot"),
        (_fixed_dot("ci", "ci").cast("double") / F.lit(1e18))
        .alias("nsq"))
    cosine = F.when(F.col("nsq") > 0, F.round(
        F.col("dot") / (F.sqrt(F.col("nsq")) * F.sqrt(F.lit(qsq))),
        9))
    return scored.select("vec_id", cosine.alias("cosine"),
                         fam.part)


def dedup_tables(scored: DataFrame, per_qid: bool = False) -> DataFrame:
    """Collapse a multi-table scored frame to one row per vector (a
    vector stored in L tables appears once per PROBED table with the
    identical cosine): max cosine (NULL-safe), lowest probed key.
    ``per_qid`` pre-partitions by qid alone, which satisfies both the
    (qid, vec_id) aggregate and the per-qid top-k window — one
    Exchange of the candidate set instead of two."""
    if per_qid:
        return (scored.repartition(F.col("qid"))
                .groupBy("qid", "vec_id")
                .agg(F.max("cosine").alias("cosine"),
                     F.min("bucket").alias("bucket"))
                .select("qid", "vec_id", "cosine", "bucket"))
    return (scored.groupBy("vec_id")
            .agg(F.max("cosine").alias("cosine"),
                 F.min("bucket").alias("bucket"))
            .select("vec_id", "cosine", "bucket"))


def _rerank_tail(fam, ranked, qci, qsq, k, rerank_vectors,
                 rerank_cut):
    """The int8 probe tail over a RANKED code-cosine frame: the
    code-ranked top-k (the exact cosine of the dequantized vectors),
    or an exact fixed-point rerank of the ``rerank_cut``·k slice
    fetched by broadcast join from the caller's float vectors."""
    if rerank_vectors is None:
        return ranked.select("vec_id", "cosine", fam.part).limit(k)
    cand = ranked.limit(rerank_cut * k).select("vec_id", fam.part)
    fetch = (rerank_vectors.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("embedding").cast("array<float>").alias("embedding"))
        .join(F.broadcast(cand), "vec_id"))
    return (scores(fam, fetch, qci, qsq, None, "float")
            .orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k))


def _probe_stats(spark: SparkSession, root: str, storage: str):
    from .cellstats import load_stats, payload_column

    stats = load_stats(spark, root)
    if stats is not None and stats["payload"] != payload_column(storage)[0]:
        return None   # fsck names this drift; the probe stays exact
    return stats


def topk(spark: SparkSession, fam: Family, root: str, meta: dict,
         scan: DataFrame, keys: "list[int]", query_vec: list, k: int,
         exclude_id: int | None, rerank_vectors: DataFrame | None,
         rerank_cut: int, early_exit: "bool | str" = False) -> DataFrame:
    """One query's top-k over ``scan`` restricted to the probe
    ``keys`` (first key = the early-exit seed). ``early_exit``
    (plans/cellstats.early_exit_scored) skips keys whose box bound
    provably cannot reach the top-k — rows identical by the bound's
    soundness; a no-op on roots without committed stats."""
    from .cellstats import normalize_mode

    storage = meta.get("storage", "float")
    qci, qsq = qdec(query_vec)
    ee_mode = normalize_mode(early_exit)
    stats = (_probe_stats(spark, root, storage)
             if ee_mode and len(keys) > 1 else None)

    def score(s):
        return scores(fam, s, qci, qsq, exclude_id, storage)

    if stats is not None:
        from .cellstats import early_exit_scored
        m = (rerank_cut * k
             if storage == "int8" and rerank_vectors is not None
             else k)
        scored, _ = early_exit_scored(
            stats, scan, fam.part, keys, qci, qsq, m, score,
            mode=ee_mode, excluded=0 if exclude_id is None else 1)
    else:
        scored = score(scan.filter(F.col(fam.part).isin(keys)))
    if num_tables(meta) > 1:   # one row per vector across tables
        scored = dedup_tables(scored)
    ranked = scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
    if storage == "int8":
        return _rerank_tail(fam, ranked, qci, qsq, k, rerank_vectors,
                            rerank_cut)
    return ranked.limit(k)


# ------------------------------------------------------- batch probes

def _batch_score(fam: Family, cand: DataFrame, storage: str) -> DataFrame:
    """(qid, vec_id, cosine, part) exact per-pair scores over a
    fanned-out candidate frame — the batch form of :func:`scores`,
    shared by the plain and early-exit batch probes and the rerank
    tail. The frame carries qci plus either qsq (joined query frame)
    or nothing more (``q_in_pairs``: ‖q‖² folds from qci per row)."""
    from ..queries.similarity import _fixed_dot

    if fam.q_in_pairs:
        qsq = _fixed_dot("qci", "qci").cast("double") / F.lit(1e18)
    else:
        qsq = F.col("qsq")
    if storage == "int8":
        from .codes import code_cosine
        return cand.select(
            "qid", "vec_id",
            code_cosine(F.col("qci"), F.col("code"), qsq)
            .alias("cosine"), fam.part)
    ci = _fixed_point(F.col("embedding")).alias("ci")
    dots = [(_fixed_dot("ci", "qci").cast("double") / F.lit(1e18))
            .alias("dot"),
            (_fixed_dot("ci", "ci").cast("double") / F.lit(1e18))
            .alias("nsq")]
    base = ("qid", "vec_id", fam.part)
    if fam.q_in_pairs:
        rer = (cand.select(*base, "qci", ci)
               .select(*base, *dots, qsq.alias("qsq")))
    else:
        rer = (cand.select(*base, "qsq", ci, F.col("qci"))
               .select(*base, "qsq", *dots))
    cosine = F.when(F.col("nsq") > 0, F.round(
        F.col("dot") / (F.sqrt(F.col("nsq")) * F.sqrt(F.col("qsq"))),
        9))
    return rer.select("qid", "vec_id", cosine.alias("cosine"),
                      fam.part)


def _batch_tail(fam, scored, dq, k, rerank_vectors, rerank_cut,
                storage, dedup=False):
    """Per-qid top-k window, with the optional int8 exact rerank of
    each query's ``rerank_cut``·k code slice (``dq``: the decoded
    query frame the rerank join needs). ``dedup``: collapse
    multi-table duplicates per (qid, vec_id) first."""
    from pyspark.sql import Window

    if dedup:
        scored = dedup_tables(scored, per_qid=True)
    wk = Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                           F.asc("vec_id"))
    if storage == "int8" and rerank_vectors is not None:
        top = (scored.withColumn("rn", F.row_number().over(wk))
               .filter(F.col("rn") <= rerank_cut * k).drop("rn"))
        fetch = (rerank_vectors.select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            F.col("embedding").cast("array<float>").alias("embedding"))
            .join(F.broadcast(top.select("qid", "vec_id", fam.part)),
                  "vec_id")
            .join(F.broadcast(dq), "qid"))
        scored = _batch_score(fam, fetch, "float")
    return (scored.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") <= k).drop("rn"))


def _keys_of(fam: Family, pairs: DataFrame) -> "list[int]":
    # the probed-key union (≤ the key domain): the literal IN-list
    # that buys directory pruning, batch-count-independent
    return sorted({int(r[fam.part]) for r in
                   pairs.select(fam.part).distinct().collect()})


def run_chunks(spark: SparkSession, qids: "list[int]", max_queries: int,
               one, concurrency: int = 1) -> DataFrame:
    """Run a chunked batch probe over DETERMINISTIC sorted qid ranges
    of ``max_queries``: ``one(bounds)`` executes one chunk and returns
    its MATERIALIZED ≤ k rows/query result, so no job broadcasts more
    than ``max_queries`` queries; per-qid results are independent, so
    chunked ≡ unchunked row-for-row. ``concurrency > 1`` submits
    chunks from a bounded driver pool (Spark interleaves the jobs'
    tasks; union order stays fixed by chunk index; each chunk's jobs
    keep the caller's job group) — N chunks'
    broadcasts and checkpoints then coexist, so 1 (strict serial) is
    the default."""
    from concurrent.futures import ThreadPoolExecutor
    from functools import reduce

    from pyspark.util import inheritable_thread_target

    ranges = [(qids[i], qids[min(i + max_queries, len(qids)) - 1])
              for i in range(0, len(qids), max_queries)]
    if concurrency <= 1:
        parts = [one(b) for b in ranges]
    else:
        with ThreadPoolExecutor(
                max_workers=min(concurrency, len(ranges))) as pool:
            parts = list(pool.map(inheritable_thread_target(spark)(one),
                                  ranges))
    return reduce(DataFrame.unionByName, parts)


def batch_topk(spark: SparkSession, fam: Family, root: str,
               meta: dict, probe_all: DataFrame, dq: DataFrame,
               bands: tuple, prunable: bool, k: int,
               exclude_self: bool, max_queries_per_job: int | None,
               rerank_vectors: DataFrame | None, rerank_cut: int,
               early_exit: "bool | str",
               chunk_concurrency: int) -> DataFrame:
    """The batch-probe driver. ``probe_all``: the CHECKPOINTED
    per-query probe frame (``fam.pair_cols`` + ``fam.rank``), built
    once by the family's key expander; ``dq``: the decoded queries;
    ``bands``: the (seed, rest, band-2, beyond-band-2) predicates on
    ``fam.rank``; ``prunable``: a query probes more than one key.

    Plan: the scan keeps STATIC pruning (the probed keys' union
    becomes a literal IN-list), pruned postings ⋈ broadcast pairs fan
    each row out to only the queries probing its key, the shared
    scorer scores, one per-qid window keeps k. Pairs and queries are
    BROADCAST, so ``max_queries_per_job`` degrades a too-big batch
    into a deterministic loop of broadcast-sized jobs over qid ranges
    (:func:`run_chunks`): each chunk filters the one probe frame and
    hands its OWN query slice to every join — nothing outside its qid
    range is broadcast, whatever the optimizer infers — and collects
    its own key list, so the driver holds the distinct qids plus one
    key list per chunk, never the Q×keys pairs."""
    from .cellstats import normalize_mode

    storage = meta.get("storage", "float")
    dedup = num_tables(meta) > 1
    ee_mode = normalize_mode(early_exit)
    stats = (_probe_stats(spark, root, storage)
             if ee_mode and prunable else None)
    excluded = 1 if exclude_self else 0

    def run(pa, q, keys=None):
        if stats is not None:
            return _batch_early(spark, fam, root, stats, pa, q, bands,
                                k, rerank_vectors, rerank_cut, storage,
                                ee_mode, dedup, excluded, keys)
        pairs = pa.drop(fam.rank)
        scored = _batch_score(
            fam, _fanout(spark, fam, root, pairs,
                         keys if keys is not None
                         else _keys_of(fam, pairs), q, excluded),
            storage)
        return _batch_tail(fam, scored, q, k, rerank_vectors,
                           rerank_cut, storage, dedup)

    if max_queries_per_job:
        qids = sorted(int(r.qid) for r in
                      probe_all.select("qid").distinct().collect())
        if len(qids) > max_queries_per_job:
            def one(bounds):
                within = F.col("qid").between(*bounds)
                pa = probe_all.filter(within)
                return run(pa, dq.filter(within),
                           _keys_of(fam, pa)).localCheckpoint()
            return run_chunks(spark, qids, max_queries_per_job, one,
                              chunk_concurrency)
    return run(probe_all, dq)


def _fanout(spark, fam, root, pairs, keys, dq, excluded):
    # keys are a driver list by now — the scan's file index covers
    # only their leaf dirs; parallelism=None: the fan-out's scoring
    # work is ~Q× per scanned byte (batches.visible_scan_keys)
    c = (read(spark, fam, root, keys, parallelism=None)
         .join(F.broadcast(pairs), fam.part))
    if not fam.q_in_pairs:
        c = c.join(F.broadcast(dq), "qid")
    return c.filter(F.col("vec_id") != F.col("qid")) if excluded else c


def _batch_early(spark, fam, root, stats, probe_all, dq, bands, k,
                 rerank_vectors, rerank_cut, storage, mode, dedup,
                 excluded, all_keys=None):
    """The batch early exit — per-QUERY pruning of (qid, key) pairs
    against each key's direction box, fully distributed; rows equal
    the plain batch probe's (the single-query soundness argument of
    cellstats.early_exit_scored, test-pinned).

    - ``"box"``: each query's threshold is its seed key's box LOWER
      bound, gated on the box's nonzero count ``nz >= m + excluded``
      (an excluded self row is counted by nz but never scored, so it
      cannot witness the floor) — broadcast joins over
      probe-frame-sized frames only: no seed scan, no barrier, never
      slower than the plain probe.
    - ``"seed"``: score and MATERIALIZE each query's seed-key top-m;
      L_q is its m-th non-null cosine (``count("cosine")``: NULL rows
      must not pass the >= m gate while ``min`` skips them); a later
      pair drops when its box upper bound against that query is
      < L_q. ``"seed2"`` adds one band-at-a-time round: score band 2
      (itself pruned by L_q), re-measure, prune the rest against the
      strictly tighter value.

    ``all_keys``: the frame's key union when the caller already has
    it (the chunked path)."""
    from pyspark.sql import Window

    from .cellstats import bounds_frame, lower_bound_col, upper_bound_col
    from ..queries.similarity import _fixed_dot

    seed, rest, band2, rest2 = bands
    m = (rerank_cut * k
         if storage == "int8" and rerank_vectors is not None else k)
    if all_keys is None:
        all_keys = _keys_of(fam, probe_all)
    bf = bounds_frame(spark, stats, fam.part, all_keys)
    qsq = (_fixed_dot("qci", "qci").cast("double") / F.lit(1e18)
           if fam.q_in_pairs else F.col("qsq"))

    def withq(pairs):
        return (pairs if fam.q_in_pairs
                else pairs.join(F.broadcast(dq), "qid"))

    def prune(pairs, lq):
        return (withq(pairs).join(F.broadcast(bf), fam.part, "left")
                .join(F.broadcast(lq), "qid", "left")
                .withColumn("_ub", upper_bound_col(F.col("qci"), qsq))
                .filter(F.col("_L").isNull()
                        | F.col("dmin").isNull()
                        | (F.col("_ub") >= F.col("_L")))
                .select(*fam.pair_cols))

    def fan(pairs, keys):
        return _batch_score(fam, _fanout(spark, fam, root, pairs, keys,
                                         dq, excluded), storage)

    def tail(scored):
        return _batch_tail(fam, scored, dq, k, rerank_vectors,
                           rerank_cut, storage, dedup)

    p1 = probe_all.filter(seed).drop(fam.rank)
    if mode == "box":
        lq = (withq(p1).join(F.broadcast(bf), fam.part, "left")
              .select("qid",
                      F.when(F.col("nz") >= m + excluded,
                             lower_bound_col(F.col("qci"), qsq))
                      .alias("_L"))
              .filter(F.col("_L").isNotNull()))
        pairs = p1.select(*fam.pair_cols).unionByName(
            prune(probe_all.filter(rest).drop(fam.rank), lq))
        return tail(fan(pairs, _keys_of(fam, pairs)))

    wk = Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                           F.asc("vec_id"))

    def top_m(scored):
        return (scored.withColumn("rn", F.row_number().over(wk))
                .filter(F.col("rn") <= m).drop("rn").localCheckpoint())

    def tops(scored):
        return (scored.groupBy("qid")
                .agg(F.count("cosine").alias("_n"),
                     F.min("cosine").alias("_L"))
                .filter(F.col("_n") >= m).select("qid", "_L"))

    scored = top_m(fan(p1, _keys_of(fam, p1)))
    lq = tops(scored)
    if mode == "seed2":
        pairs2 = prune(probe_all.filter(band2).drop(fam.rank),
                       lq).localCheckpoint()
        keys2 = _keys_of(fam, pairs2)
        if keys2:
            # band 2 holds other tables' own buckets: a vector scored
            # in two tables must count once toward the m-th cosine
            scored = scored.unionByName(fan(pairs2, keys2))
            scored = top_m(dedup_tables(scored, per_qid=True)
                           if dedup else scored)
            lq = tops(scored)
        rest = rest2
    survivors = prune(probe_all.filter(rest).drop(fam.rank),
                      lq).localCheckpoint()
    keys = _keys_of(fam, survivors)
    if keys:
        scored = scored.unionByName(fan(survivors, keys))
    return tail(scored)
