"""End-to-end training-corpus curation pipeline (SURVEY Phase 6).

Composes the LLM-data-pipeline operators into ONE stage-checkpointed
DAG — the document analog of the reference's 4-stage calibration
pipeline (``src/core/data_pipeline.py:10-56``): each stage writes
Parquet, stage-skip = output-exists, reruns are idempotent.

    raw documents
      → features      (tx1/tx2/tx4: tokens, quality, fingerprint)
      → quality_gate  (lang allowlist + token/stopword thresholds)
      → exact_dedup   (tx3: content-hash keep-first)
      → near_dedup    (dx1: MinHash+LSH candidates → greedy keep-first)
      → corpus        (surviving documents)

Scale notes per stage:
- features/quality_gate are pure maps — no shuffle, full codegen.
- exact_dedup is one shuffle on a 128-bit hash.
- near_dedup is the LSH bucket join (O(N·bands)), never all-pairs.
  Two survivor policies: greedy keep-first (drop the larger doc_id of
  every above-threshold pair — one anti-join, the cheap default) and
  transitive connected-components clustering (operators/components.py
  — keeps exactly one canonical doc per duplicate *cluster*, the
  correct-by-definition policy; costs O(diameter) iterative joins).
  CC survivors are always a subset of greedy survivors, and both
  always keep each cluster's minimum doc_id.
- The checkpoint between near_dedup and corpus doubles as the
  re-partition barrier before downstream tokenization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (lsh_neardup_pairs, lsh_verified_neardups,
                               shingles)
from . import batches as B
# the commit protocol's public names, importable from here too
from .batches import (LOCK_NAME, MANIFEST_DIR,  # noqa: F401
                      BatchAlreadyIngested, ConcurrentWriterError,
                      committed_batches, corpus_writer_lock,
                      read_manifest)
from .pipeline import Pipeline

DEFAULT_LANGS = ("en", "de", "fr", "es", "zh")
MIN_TOKENS = 5
NEARDUP_EST_JACCARD = 0.5


def _neardup_pairs(docs: DataFrame, threshold: float,
                   verify_exact: bool) -> DataFrame:
    """Above-threshold near-dup pairs, by either decision rule:

    - estimate (default): threshold on the MinHash signature agreement
      — zero extra joins, the cheap production choice; false
      positives/negatives bounded by the signature width.
    - verified: exact jaccard computed on the candidate set only (the
      dx5 decision) — two candidate-sized joins more, but the drop
      decision is exact, so no document is ever discarded on a hash
      coincidence.
    Both start from the same O(N·bands) bucket join, never all-pairs.
    """
    if verify_exact:
        return (lsh_verified_neardups(docs, threshold)
                .select("doc_a", "doc_b"))
    return (lsh_neardup_pairs(shingles(docs))
            .filter(F.col("est_jaccard") >= threshold)
            .select("doc_a", "doc_b"))


def scrub_documents(docs: DataFrame) -> DataFrame:
    """PII/URL scrubbing stage: replace urls/emails/ipv4s/phone runs
    with typed placeholder tokens and record per-category match counts
    (functions.redact_pii_cols). A pure map — no shuffle, full
    codegen — so at 100 TB it rides along with the feature scan."""
    from ..functions import redact_pii_cols

    cols = redact_pii_cols(F.col("text"))
    passthrough = [c for c in docs.columns if c != "text"]
    return docs.select(
        *passthrough, cols["clean_text"].alias("text"),
        *[cols[k].alias(k) for k in ("n_url", "n_email", "n_ip",
                                     "n_phone")])


def document_features(docs: DataFrame) -> DataFrame:
    """Per-document features in one scan (the tx1_tx2_tx4 pass as a
    reusable stage): token count, stopword ratio, content fingerprint.
    ``source`` passes through when present — the downstream mixture
    stage stratifies on it."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    ratio = (F.size(F.filter(toks, lambda x: x.isin("a", "the")))
             .cast("double") / F.size(toks))
    passthrough = [c for c in ("source",) if c in docs.columns]
    return docs.select(
        "doc_id", "text", "lang", *passthrough,
        F.size(toks).cast("bigint").alias("n_tokens"),
        ratio.alias("stopword_ratio"),
        F.md5(F.col("text").cast("binary")).alias("content_hash"))


def quality_predicate(langs: tuple[str, ...] = DEFAULT_LANGS,
                      min_tokens: int = MIN_TOKENS):
    """The quality gate as a Column predicate — shared by the filter
    stage and the ingest ledger's pass-count aggregate so the two can
    never drift."""
    return (F.col("lang").isin(*langs)
            & (F.col("n_tokens") >= min_tokens))


def quality_gate(feats: DataFrame,
                 langs: tuple[str, ...] = DEFAULT_LANGS,
                 min_tokens: int = MIN_TOKENS) -> DataFrame:
    """Keep documents passing the language allowlist and size gate —
    a pure filter, pushed to the scan when reading from Parquet."""
    return feats.filter(quality_predicate(langs, min_tokens))


def exact_dedup(feats: DataFrame) -> DataFrame:
    """Keep-first exact dedup: survivor = min doc_id per content hash.
    One shuffle; the groupBy result is broadcast-joined back so the
    text payload never shuffles."""
    keep = (feats.groupBy("content_hash")
            .agg(F.min("doc_id").alias("doc_id")))
    return feats.join(keep, ["content_hash", "doc_id"], "left_semi")


def near_dedup(docs: DataFrame,
               est_jaccard: float = NEARDUP_EST_JACCARD,
               verify_exact: bool = False) -> DataFrame:
    """Greedy keep-first near-dedup via MinHash+LSH: every above-
    threshold pair drops its larger doc_id. Candidates come from the
    banded bucket join — never all-pairs. ``verify_exact`` switches
    the pair decision from the signature estimate to exact jaccard on
    the candidate set (see _neardup_pairs)."""
    drops = (_neardup_pairs(docs, est_jaccard, verify_exact)
             .select(F.col("doc_b").alias("doc_id")).distinct())
    return docs.join(drops, "doc_id", "left_anti")


def near_dedup_cc(docs: DataFrame,
                  est_jaccard: float = NEARDUP_EST_JACCARD,
                  verify_exact: bool = False) -> DataFrame:
    """Cluster-based near-dedup: LSH candidate pairs → connected
    components → keep exactly the canonical (minimum doc_id) document
    of every duplicate cluster. Unlike the greedy rule this is
    transitive — A~B, B~C collapses all three even when A~C was never
    scored — and keeps exactly one survivor per cluster by
    construction."""
    from ..operators.components import dedup_clusters

    pairs = _neardup_pairs(docs, est_jaccard, verify_exact)
    losers = (dedup_clusters(pairs, left="doc_a", right="doc_b")
              .filter(~F.col("is_canonical"))
              .select("doc_id"))
    return docs.join(losers, "doc_id", "left_anti")


def build_corpus_pipeline(root: str, source: DataFrame,
                          langs: tuple[str, ...] = DEFAULT_LANGS,
                          min_tokens: int = MIN_TOKENS,
                          est_jaccard: float = NEARDUP_EST_JACCARD,
                          cluster_dedup: bool = False,
                          redact: bool = False,
                          verify_exact: bool = False
                          ) -> Pipeline:
    """Wire the curation DAG onto a Parquet-checkpointed Pipeline.
    ``cluster_dedup`` swaps the greedy near-dedup survivor policy for
    the transitive connected-components one; ``redact`` inserts the
    PII/URL scrubbing stage ahead of feature extraction (dedup then
    keys off the *scrubbed* text, so two docs differing only in
    redacted PII collapse together); ``verify_exact`` makes the
    near-dedup drop decision exact-jaccard-verified (dx5 semantics)
    instead of signature-estimated."""
    base_fn = near_dedup_cc if cluster_dedup else near_dedup

    def dedup_fn(docs, threshold):
        return base_fn(docs, threshold, verify_exact=verify_exact)
    p = Pipeline(root=root)
    if redact:
        p.add("scrub", lambda s: scrub_documents(source))
        p.add("features",
              lambda s: document_features(s.read.parquet(p.path("scrub"))),
              deps=("scrub",))
    else:
        p.add("features", lambda s: document_features(source))
    p.add("quality_gate",
          lambda s: quality_gate(s.read.parquet(p.path("features")),
                                 langs, min_tokens),
          deps=("features",))
    p.add("exact_dedup",
          lambda s: exact_dedup(s.read.parquet(p.path("quality_gate"))),
          deps=("quality_gate",))
    p.add("corpus",
          lambda s: dedup_fn(s.read.parquet(p.path("exact_dedup")),
                             est_jaccard),
          deps=("exact_dedup",))
    return p


# index_winnow_fp only materializes when the optional passage gate is
# on (ingest_delta's passage_min_shared); every maintenance sweep
# still covers it — deleting/compacting an absent table is a no-op.
INGEST_TABLES = ("corpus", "index_content_hash", "index_simhash",
                 "index_winnow_fp")
INDEX_SCHEMAS = {
    "index_content_hash": "content_hash STRING, batch_id STRING",
    "index_simhash": "simhash BIGINT, batch_id STRING",
    "index_winnow_fp": "doc_id BIGINT, fp BIGINT, batch_id STRING",
}
# the ingest ledger's count fields, summed by a compaction
LEDGER_FIELDS = ("n_input", "n_gated", "n_quality_dropped",
                 "n_exact_dropped", "n_neardup_dropped",
                 "n_passage_dropped", "n_admitted")


def _resolve(spark: SparkSession, root: str) -> str:
    """A re-shard cutover pointer (:func:`migration.
    set_corpus_pointer`) resolves to its root, transparently, at every
    corpus entry point — like the vector probes resolve index
    pointers; a fresh root passes through."""
    from .migration import resolve_corpus_root

    return resolve_corpus_root(spark, root, strict=False)


def _writes(rows: DataFrame) -> list:
    """(table, frame) writes of a batch's corpus rows plus the two
    hash indexes derived from their own ``content_hash``/``simhash``
    columns — corpus rows carry both precisely so index state is
    always derivable from the corpus."""
    return [("corpus", rows),
            ("index_content_hash", rows.select("content_hash", "batch_id")),
            ("index_simhash", rows.select("simhash", "batch_id"))]


def _read_index(spark: SparkSession, root: str, name: str,
                committed: list[str]) -> DataFrame:
    """A dedup index restricted to COMMITTED batches (directory
    pruning on the partition column, batches.visible_scan). Explicit
    schema because an index whose committed batches all admitted zero
    rows has no Parquet footers to infer from."""
    ix = B.read_live(spark, root, name, committed, INDEX_SCHEMAS[name])
    if ix is None:
        return spark.createDataFrame([], INDEX_SCHEMAS[name])
    return ix


def read_corpus(spark: SparkSession, root: str) -> DataFrame:
    """The committed corpus: batches with a manifest only (and not
    superseded), via the invisible-set complement filter — see
    :func:`batches.visible_scan`. ``root`` may be a corpus POINTER
    file written by a re-shard cutover (:func:`_resolve`)."""
    root = _resolve(spark, root)
    committed = committed_batches(spark, root)
    if not committed:
        raise FileNotFoundError(f"no committed batches under {root}")
    return B.visible_scan(spark, f"{root}/corpus", committed)


# Copy-aware surrogate example id: ex_id = doc_id * MAX_EPOCH_COPIES
# + copy_idx. Bounds composition with tx11's multiplicative-hash
# overflow guard to doc_id ≤ MAX_SAFE_DOC_ID / 8 ≈ 4.3e8 documents —
# past that, re-key per queries/text.py MAX_SAFE_DOC_ID notes. The
# pack stage raises loudly at the bound, never wraps.
MAX_EPOCH_COPIES = 8
TRAINING_MIXTURE_SALT = "mixture"


def build_training_pipeline(root: str, source: DataFrame,
                            weights: dict,
                            stratum_col: str = "source",
                            langs: tuple[str, ...] = DEFAULT_LANGS,
                            min_tokens: int = MIN_TOKENS,
                            est_jaccard: float = NEARDUP_EST_JACCARD,
                            cluster_dedup: bool = False,
                            redact: bool = False,
                            verify_exact: bool = False,
                            mixture_salt: str = TRAINING_MIXTURE_SALT
                            ) -> Pipeline:
    """The END-TO-END training-data build as ONE Parquet-memoized DAG
    — the document analog of the 4-stage calibration pipeline
    (``src/core/data_pipeline.py:10-56``): curation → deterministic
    mixture → sequence packing; :func:`run_training_build` finishes it
    with the shard-export sink.

    On top of :func:`build_corpus_pipeline`'s
    features → quality_gate → exact_dedup → corpus stages:

    - **mixture**: per-stratum rate resampling with upsampling epochs
      (queries/sampling.mixture_sample). The gate is SALTED
      (``mixture_salt``) so its Bernoulli draw is independent of any
      other hash sampler over the same text (see hash_gate_key).
      Emits ``ex_id = doc_id * MAX_EPOCH_COPIES + copy_idx`` — the
      copy-aware surrogate example id. Rates must stay below
      MAX_EPOCH_COPIES (validated here, driver-side).
    - **packed**: tx11 packing keyed on ``ex_id`` — each upsampled
      copy shuffles and packs as an independent training example —
      while the train/val split keys on the ORIGINAL ``doc_id``, so
      two copies of one document can never straddle the split (no
      train→val leakage). In the packed output, ``doc_id`` holds the
      surrogate: original = ex_id div MAX_EPOCH_COPIES, copy =
      ex_id mod MAX_EPOCH_COPIES.

    Every stage writes Parquet; reruns skip completed stages
    (path-existence memoization through the Hadoop FS helper).
    """
    p = build_corpus_pipeline(root, source, langs=langs,
                              min_tokens=min_tokens,
                              est_jaccard=est_jaccard,
                              cluster_dedup=cluster_dedup,
                              redact=redact, verify_exact=verify_exact)
    add_mixture_pack_stages(p, weights, stratum_col=stratum_col,
                            mixture_salt=mixture_salt)
    return p


def add_mixture_pack_stages(p: Pipeline, weights: dict,
                            stratum_col: str = "source",
                            mixture_salt: str = TRAINING_MIXTURE_SALT
                            ) -> Pipeline:
    """Append the mixture → packed stages onto a pipeline whose
    ``corpus`` stage is already defined — shared by
    :func:`build_training_pipeline` (one-shot curation) and
    ``plans/snapshots.training_build_pinned`` (pinned committed
    corpus), so the leakage-proof packing semantics cannot drift
    between the two entry points."""
    from ..queries.sampling import mixture_sample
    from ..queries.text import pack_documents

    bad = {s: r for s, r in weights.items() if r >= MAX_EPOCH_COPIES}
    if bad:
        raise ValueError(
            f"mixture rates must be < MAX_EPOCH_COPIES="
            f"{MAX_EPOCH_COPIES} (surrogate-id headroom): {bad}")

    def mixture_stage(s: SparkSession) -> DataFrame:
        docs = s.read.parquet(p.path("corpus"))
        mixed = mixture_sample(docs, weights, stratum_col=stratum_col,
                               salt=mixture_salt)
        return mixed.withColumn(
            "ex_id",
            F.col("doc_id") * MAX_EPOCH_COPIES + F.col("copy_idx"))

    p.add("mixture", mixture_stage, deps=("corpus",))
    p.add("packed",
          lambda s: pack_documents(s.read.parquet(p.path("mixture")),
                                   id_col="ex_id", split_col="doc_id"),
          deps=("mixture",))
    return p


def run_training_build(spark: SparkSession, p: Pipeline,
                       n_shards: int = 8) -> DataFrame:
    """Drive the training build to its sink: run the DAG through
    ``packed``, then export ``{root}/shards`` (training-shard layout:
    bins never split, shards token-balanced — write_training_shards).
    The shard export is memoized like every other stage: a committed
    ``_SUCCESS`` under ``shards`` skips the rewrite."""
    from ..fs import path_exists

    packed = p.run(spark, "packed")
    shards_path = f"{p.root.rstrip('/')}/shards"
    if not path_exists(spark, f"{shards_path}/_SUCCESS"):
        write_training_shards(packed, shards_path, n_shards)
    return spark.read.parquet(shards_path)


def ingest_delta(spark: SparkSession, root: str, new_docs: DataFrame,
                 batch_id: str,
                 langs: tuple[str, ...] = DEFAULT_LANGS,
                 min_tokens: int = MIN_TOKENS,
                 redact: bool = False,
                 passage_min_shared: int | None = None,
                 passage_max_doc_freq: int | None = None,
                 _crash_after: str | None = None,
                 _pre_commit=None) -> DataFrame:
    """INCREMENTAL corpus ingest — the daily-batch shape at 100 TB,
    where the standing corpus is never re-deduped: the delta runs the
    same scrub/feature/quality stages (pure maps), then dedups
    against two persisted INDEX tables instead of against the corpus:

    - ``{root}/index_content_hash`` — exact gate
      (operators/dedup.dedup_delta_exact semantics).
    - ``{root}/index_simhash`` — near-dup gate, banded bucket joins
      (operators/dedup.neardup_delta_simhash).
    - ``{root}/index_winnow_fp`` — OPTIONAL passage gate
      (operators/dedup.passage_delta_gate), on when
      ``passage_min_shared`` is set: a delta document sharing at
      least that many winnowed fingerprints with any single committed
      document (or a lower-id delta doc) is dropped even when the
      documents as wholes are unrelated; ``passage_max_doc_freq``
      is the boilerplate fan-out guard. Pick the gate mode when the
      corpus root is created and keep it — like langs/min_tokens,
      the knob is per-run, and a root ingested without the gate has
      no passage index for later gated ingests to consult until
      batches ingested under the gate accumulate.

    **Commit protocol (crash-safe, manifest-last).** All three tables
    are Parquet-partitioned by ``batch_id``, and a batch's rows in ALL
    of them become visible atomically when its manifest file lands at
    ``{root}/_manifests/{batch_id}.json`` — the single small-file
    write (complete-on-close / atomic PUT) that IS the commit, the
    Spark-native analog of the reference's all-or-nothing pickle
    checkpoint (``src/core/data_manager.py:49-60``):

    1. ``batch_id`` has a manifest → :class:`BatchAlreadyIngested`
       (idempotence is by batch identity — even for batches that
       admitted zero documents, which still commit a manifest).
    2. Leftover ``batch_id=`` partitions WITHOUT a manifest are a
       crashed attempt: deleted, then re-ingested fresh — crash
       recovery is literally "run it again".
    3. Index/corpus reads filter to manifested batches (partition
       pruning makes the filter directory-level), so a crashed
       attempt's rows are never consulted even before a retry runs.
    4. Data writes happen in any order; the manifest goes LAST.

    Both indexes grow append-only (the delta operators guarantee the
    appended keys are disjoint from the committed index, so a plain
    per-batch partition write IS the index update — no rewrite of
    corpus-sized state, ever). The manifest doubles as the ingest
    ledger: input/gated/admitted counts plus per-gate drop counts.

    Returns the admitted-documents DataFrame (read back from the
    corpus sink, so the caller observes exactly what was committed).

    ``_crash_after`` is a test-only fault-injection seam naming a
    table write ("corpus" / "index_content_hash" / "index_simhash")
    after which a RuntimeError is raised — used to prove the
    kill-between-writes recovery path.

    **Single-writer, ENFORCED**: ingests serialize (one at a time
    per corpus root) — the production shape, where one scheduler owns
    the ingest loop (the streaming driver literally is that: one
    micro-batch at a time). Two CONCURRENT ingests would each read
    the index before the other's append and could both admit the
    same content, so every mutator takes the
    :func:`corpus_writer_lock` lease — a second writer raises
    :class:`ConcurrentWriterError` instead of racing.

    ``compact-``/``retain-`` batch ids are reserved for the
    maintenance rewrites' sequence numbering and rejected here
    (``stream-`` is reserved by convention for the streaming driver,
    which ingests through this same entry point).
    """
    if batch_id.startswith(("compact-", "retain-")):
        raise ValueError(
            f"batch_id {batch_id!r} uses a reserved maintenance "
            f"prefix (compact-/retain- are minted by "
            f"compact_batches/delete_documents)")
    root = _resolve(spark, root)   # the ingest loop writes via alias
    with corpus_writer_lock(spark, root,
                            op=f"ingest:{batch_id}") as lease:
        ms = B.begin(spark, root, batch_id, INGEST_TABLES)
        return _ingest(spark, root, lease, ms, new_docs, batch_id,
                       langs, min_tokens, redact, passage_min_shared,
                       passage_max_doc_freq, _crash_after, _pre_commit)


def _ingest(spark, root, lease, ms, new_docs, batch_id, langs,
            min_tokens, redact, passage_min_shared,
            passage_max_doc_freq, _crash_after, _pre_commit) -> DataFrame:
    """:func:`ingest_delta` body: lease held, batch opened."""
    from ..operators.dedup import neardup_delta_simhash

    committed = B.live(ms)
    staged = scrub_documents(new_docs) if redact else new_docs
    feats = document_features(staged)
    # input + gated counts in ONE aggregate over the feature scan
    # (document_features is row-preserving, so count(*) == |input|) —
    # the ledger costs one delta scan, not two.
    gate_cond = quality_predicate(langs, min_tokens)
    crow = feats.agg(
        F.count("*").alias("n_in"),
        F.coalesce(F.sum(gate_cond.cast("long")), F.lit(0))
         .alias("n_ok")).head()
    n_input, n_gated = crow.n_in, crow.n_ok
    gated = quality_gate(feats, langs, min_tokens)

    ex_index = _read_index(spark, root, "index_content_hash",
                           committed).select("content_hash")
    # gated already carries content_hash; reuse it rather than
    # rehashing inside the operator
    from pyspark.sql import Window
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    in_delta = (gated.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn"))
    ex_survivors = in_delta.join(ex_index, "content_hash", "left_anti") \
                           .localCheckpoint()
    n_after_exact = ex_survivors.count()
    lease.renew()   # heartbeat between expensive stages

    fp_index = _read_index(spark, root, "index_simhash",
                           committed).select("simhash")
    survivors, _ = neardup_delta_simhash(ex_survivors, fp_index)
    survivors = survivors.localCheckpoint()
    n_after_neardup = survivors.count()

    surv_fps = None
    if passage_min_shared is not None:
        from ..operators.dedup import passage_delta_gate

        wfp_index = _read_index(spark, root, "index_winnow_fp",
                                committed).select("doc_id", "fp")
        survivors, surv_fps = passage_delta_gate(
            survivors, wfp_index, min_shared=passage_min_shared,
            max_doc_freq=passage_max_doc_freq)
        survivors = survivors.localCheckpoint()
        surv_fps = surv_fps.localCheckpoint()
    n_admitted = survivors.count()
    lease.renew()

    tagged = survivors.withColumn("batch_id", F.lit(batch_id))
    writes = _writes(tagged)
    if surv_fps is not None:
        writes.append(("index_winnow_fp",
                       surv_fps.withColumn("batch_id",
                                           F.lit(batch_id))))
    # The per-table writes are independent jobs over the SAME
    # localCheckpointed survivors (data writes commit in any order;
    # the manifest below is the only commit point), so overlap them
    # from a small driver pool (guide §2.6): each write's task tail
    # would otherwise idle the cluster before the next write's
    # ramp-up — three serial barriers per ingest for no ordering
    # gain. The _crash_after test seam needs a deterministic
    # "crashed AFTER table X, before the rest" state, so fault
    # injection keeps the serial loop.
    def _write_one(item):
        table, df = item
        (df.write.mode("append").partitionBy("batch_id")
         .parquet(f"{root}/{table}"))

    if _crash_after is not None:
        for table, df in writes:
            _write_one((table, df))
            if _crash_after == table:
                raise RuntimeError(
                    f"injected crash after {table} write "
                    f"(batch {batch_id})")
    else:
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        # pool threads keep the caller's job group and local properties
        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            list(pool.map(inheritable_thread_target(spark)(_write_one),
                          writes))

    manifest = {
        "batch_id": batch_id,
        "n_input": n_input,
        "n_gated": n_gated,
        "n_quality_dropped": n_input - n_gated,
        "n_exact_dropped": n_gated - n_after_exact,
        "n_neardup_dropped": n_after_exact - n_after_neardup,
        "n_passage_dropped": n_after_neardup - n_admitted,
        "n_admitted": n_admitted,
    }
    if _pre_commit is not None:   # test seam: stall/steal injection
        _pre_commit()
    B.commit(spark, root, lease, ms, manifest)

    if n_admitted == 0:
        # A fully-filtered batch writes no partition directory (and a
        # fully-filtered FIRST batch leaves a row-less corpus dir
        # whose schema Parquet cannot infer) — return the (empty)
        # survivors frame instead of reading back. The manifest above
        # still committed, so the batch id is burned either way.
        return tagged
    return (spark.read.parquet(f"{root}/corpus")
            .filter(F.col("batch_id") == batch_id))


def compact_batches(spark: SparkSession, root: str,
                    batch_ids: list[str] | None = None,
                    n_files: int = 1) -> str:
    """MAINTENANCE: fold many small per-batch partitions into one
    compact batch — the small-files relief the append-only ingest
    needs once batches accumulate (a year of daily deltas = 365 tiny
    partitions per table; a compaction returns each table to a few
    right-sized files without ever rewriting in place).

    Commit protocol (same manifest-last discipline as ingest, so
    there is NO window of double-visibility):

    1. Rows of the chosen committed batches are rewritten under a
       fresh ``batch_id=compact-N`` partition in all three tables
       (uncommitted leftovers of a crashed prior attempt swept
       first). Until the manifest lands these rows are invisible.
    2. The compact manifest lands LAST, carrying ``replaces`` — the
       TRANSITIVE set of batch ids it supersedes (victims' own
       ``replaces`` folded in, so identity memory survives chained
       compactions). The instant it lands, readers see the compact
       partition and stop seeing the replaced ones — even though
       their files still exist.
    3. Superseded manifests and partitions are pruned AFTER commit
       (:func:`prune_superseded`); a crash mid-prune leaves only
       invisible garbage, and any later compaction/prune finishes
       the sweep.

    ``n_files`` sizes the rewrite (repartition before the write); at
    real scale pick ceil(bytes / target_file_size). Returns the
    compact batch id. Takes the writer lease (so a compaction can
    never interleave with an ingest's index reads).
    """
    root = _resolve(spark, root)
    with corpus_writer_lock(spark, root, op="compact") as lease:
        return B.compact(
            spark, root, lease, batch_ids,
            {"corpus": None, **INDEX_SCHEMAS},
            lambda rows: rows.repartition(n_files).write
            .partitionBy("batch_id"), LEDGER_FIELDS)


def prune_superseded(spark: SparkSession, root: str) -> list[str]:
    """Garbage-collect batches a compaction/retention rewrite
    superseded: delete each one's manifest, then its partitions.
    Everything deleted here is already invisible to readers, so this
    is safe to run — or crash out of and re-run — at any time. The
    sweep covers EVERY superseded id, not just those whose manifest
    still exists, so a crash between a manifest delete and its
    directory deletes is healed by the next run. Returns the batch
    ids for which anything was actually removed. Takes the writer
    lease (compaction/retention run the same sweep inside their
    own lease, batches.supersede)."""
    root = _resolve(spark, root)
    with corpus_writer_lock(spark, root,
                            op="prune_superseded") as lease:
        return B.prune_superseded(spark, root, INGEST_TABLES, lease)


def prune_uncommitted(spark: SparkSession, root: str) -> list[str]:
    """Garbage-collect data-directory leftovers that have NO manifest
    and are not superseded — crashed ingests that were never retried
    under the same batch id. These are invisible to every reader, but
    they cost listing time and storage forever if nothing sweeps them.

    An in-progress batch is, by definition, an unmanifested
    partition and would be swept out from under its ingest — which
    is why this takes the writer lease: while any ingest holds it,
    the sweep raises :class:`ConcurrentWriterError` instead of
    destroying the in-flight batch (the r7 docstring-only footgun,
    closed by construction). Returns the orphan batch ids removed."""
    root = _resolve(spark, root)
    with corpus_writer_lock(spark, root,
                            op="prune_uncommitted") as lease:
        return B.prune_uncommitted(spark, root, INGEST_TABLES, lease)


def delete_batch(spark: SparkSession, root: str, batch_id: str) -> None:
    """RETENTION/TAKEDOWN: de-commit a live batch. The manifest is
    deleted FIRST — one atomic remove that makes the whole batch
    (corpus rows AND its index rows) invisible everywhere — then the
    partition files are swept.

    Two consequences, both intended:
    - content equal to the removed documents becomes RE-ADMITTABLE
      (its index rows are gone): removed content is no longer "in the
      corpus", so a future ingest of the same text is a fresh
      decision, not a duplicate;
    - the batch id is freed for reuse.

    Only LIVE batches can be deleted: after a compaction, per-batch
    identity is folded into the compact partition, so row-level
    retention inside a compact batch needs a filter-and-rewrite of
    that one partition (:func:`delete_documents`), not this
    operation. Refused while a snapshot pin holds the batch or
    anything it replaced. Takes the writer lease."""
    B.delete_batch(spark, _resolve(spark, root), batch_id,
                   INGEST_TABLES, op=f"delete:{batch_id}")


def delete_documents(spark: SparkSession, root: str,
                     doc_ids: "list[int] | DataFrame",
                     n_files: int = 1,
                     release_conflicting_pins: bool = False,
                     _plan_sink: "list | None" = None) -> str:
    """ROW-LEVEL retention (per-document takedown) — the operation
    :func:`delete_batch` cannot perform once batches are compacted.
    Runs as a filter-and-rewrite under the SAME manifest-supersession
    commit as :func:`compact_batches`, so it inherits every crash
    property:

    1. Locate the live batches holding any target doc id (directory-
       pruned scan on the batch partition column).
    2. Rewrite those batches' SURVIVING rows under a fresh
       ``retain-N`` batch — corpus rows minus the targets, and both
       index partitions regenerated from the survivors' own
       ``content_hash``/``simhash`` columns (corpus rows carry both
       precisely so index state is always derivable from the corpus).
    3. The ``retain-N`` manifest lands LAST with a transitive
       ``replaces`` list plus an ``n_deleted`` audit field; until it
       lands nothing changed, after it lands the old batches are
       invisible; :func:`prune_superseded` sweeps their files.

    The deleted documents' hashes leave the indexes with them, so
    content equal to a removed document is RE-ADMITTABLE — removed
    means removed, not tombstoned. Unaffected batches are never
    rewritten: cost is proportional to the batches touched, not the
    corpus. Returns the new batch id. Takes the writer lease.

    ``doc_ids``: a Python list (takedown-notice convenience) or a
    one-column DataFrame of ids (the at-scale shape — a million-row
    deletion set joins instead of becoming a million-literal IN
    expression in every plan; both routes go through the same
    semi/anti joins).

    Snapshot pins (plans/snapshots.py) conflict with takedown: a pin
    covering an affected batch would keep the deleted document
    readable through :func:`snapshots.read_corpus_pinned`. The
    default is to REFUSE with :class:`snapshots.PinConflictError`
    (naming the pins); ``release_conflicting_pins=True`` deletes the
    conflicting pins instead and records them in the retain
    manifest's ``released_pins`` for audit — takedown wins over
    reproducibility, but only explicitly.
    """
    from ..fs import path_exists

    root = _resolve(spark, root)

    def write(surv, cid, n):
        writes = _writes(surv)
        if path_exists(spark, f"{root}/index_winnow_fp"):
            # the passage index regenerates from the survivors' own
            # text (winnow fps are derivable, like the hash columns) —
            # deleted documents' fingerprints leave with them, keeping
            # removed passages RE-ADMITTABLE
            from ..operators.dedup import winnow_fingerprint_rows

            writes.append((
                "index_winnow_fp",
                winnow_fingerprint_rows(surv.select("doc_id", "text"))
                .withColumn("batch_id", F.lit(cid))))
        for table, df in writes:
            (df.repartition(n_files)
             .write.mode("append").partitionBy("batch_id")
             .parquet(f"{root}/{table}"))

    with corpus_writer_lock(spark, root, op="retain") as lease:
        return B.retain(spark, root, lease, INGEST_TABLES, None,
                        "doc_id", doc_ids, "documents",
                        release_conflicting_pins, write,
                        _plan_sink=_plan_sink)


def verify_corpus(spark: SparkSession, root: str) -> dict:
    """Consistency fsck for the incremental corpus — run it after
    maintenance (compaction, retention) or before a critical training
    build. Checks the invariants the commit protocol promises:

    - **ledger**: every live batch's corpus partition holds exactly
      its manifest's ``n_admitted`` rows;
    - **uniqueness**: ``content_hash`` is globally unique across the
      live corpus (the exact-dedup admission guarantee);
    - **index⇆corpus**: both index tables hold exactly the live
      corpus rows' hashes — no missing gate rows (future duplicates
      would be re-admitted), no phantom rows (future genuine content
      would be wrongly suppressed);
    - **orphans**: unmanifested / superseded partition directories
      still on disk (invisible; listed for prune_*).

    Returns ``{"live_batches", "corpus_rows", "orphans",
    "violations"}`` — an empty ``violations`` list means every
    invariant holds. All checks are aggregates/anti-joins sized by
    the corpus, one pass each; nothing is collected row-wise.
    ``root`` may be a corpus pointer (resolved like
    :func:`read_corpus`)."""
    root = _resolve(spark, root)
    ms = B.load_manifests(spark, root)
    live = B.live(ms)
    violations: list[str] = []
    corp = B.read_live(spark, root, "corpus", live)
    n_rows = B.ledger(ms, live, corp, f"{root}/corpus", violations,
                      noun="corpus rows")
    if corp is not None:
        n_dupes = (corp.groupBy("content_hash")
                   .agg(F.count("*").alias("n"))
                   .filter(F.col("n") > 1).count())
        if n_dupes:
            violations.append(
                f"uniqueness: {n_dupes} content hashes appear in "
                f"more than one live corpus row")
        for table, col in (("index_content_hash", "content_hash"),
                           ("index_simhash", "simhash")):
            ix = _read_index(spark, root, table, live).select(col)
            missing = corp.select(col).join(ix, col, "left_anti").count()
            phantom = ix.join(corp.select(col), col, "left_anti").count()
            if missing:
                violations.append(
                    f"index: {missing} live corpus rows have no "
                    f"{table} row (duplicates would be re-admitted)")
            if phantom:
                violations.append(
                    f"index: {table} holds {phantom} rows with no "
                    f"live corpus row (content wrongly suppressed)")
    return {"live_batches": len(live), "corpus_rows": n_rows,
            **B.orphans(spark, root, INGEST_TABLES, live),
            "violations": violations}


def corpus_stats(spark: SparkSession, p: Pipeline) -> dict[str, int]:
    """Per-stage survivor counts — the pipeline's acceptance report
    (the analog of the reference's stage-end counters,
    ``src/core/act_img.py:313-314``)."""
    return {name: spark.read.parquet(p.path(name)).count()
            for name in p.stages}


def write_training_shards(packed: DataFrame, path: str,
                          n_shards: int,
                          bin_col: str = "bin_id") -> None:
    """Training-export sink for tx11-packed sequences: assign every
    token-budget bin to one of ``n_shards`` shards and write a
    directory per shard.

    Contracts the trainer relies on:
    - **A bin never splits across shards** — the shard key is a
      deterministic hash of the bin id, so all chunks of a training
      example land together (shuffling bins, not rows).
    - **Shards are token-balanced in expectation** — bins carry ~equal
      token budgets by construction (tx11's cumsum packing), and the
      murmur3 spread puts ~bins/n_shards of them in each shard; no
      sort, no global coordination.
    - One ``repartition(shard)`` before ``partitionBy(shard)`` so each
      directory is written by its owning tasks (the same small-files
      discipline as write_partitioned_corpus).
    """
    sharded = packed.withColumn(
        "shard", F.pmod(F.hash(F.col(bin_col)), F.lit(n_shards))
        .cast("int"))
    (sharded.repartition(F.col("shard"))
     .sortWithinPartitions(bin_col)
     .write.mode("overwrite").partitionBy("shard").parquet(path))


def write_partitioned_corpus(df: DataFrame, path: str,
                             partition_col: str = "lang",
                             max_records_per_file: int = 100_000,
                             sort_col: str = "doc_id") -> None:
    """The 100 TB corpus SINK: hive-partitioned Parquet layout.

    - ``partitionBy(partition_col)`` gives directory-level partition
      pruning to every downstream reader (a lang- or source-filtered
      training run never lists, let alone reads, the other
      partitions' files).
    - ``repartition(partition_col)`` first, so each output partition
      is written by the tasks that own its data — without it every
      task appends a small file to EVERY partition directory and the
      layout degenerates to tasks x partitions files (the classic
      small-files failure).
    - ``sortWithinPartitions(sort_col)`` makes per-file min/max
      statistics tight on the sort key, so row-group skipping works
      for key-ranged reads.
    - ``maxRecordsPerFile`` bounds file size regardless of partition
      skew — one hot language cannot produce a single huge file.
    """
    (df.repartition(F.col(partition_col))
       .sortWithinPartitions(sort_col)
       .write.mode("overwrite")
       .option("maxRecordsPerFile", max_records_per_file)
       .partitionBy(partition_col)
       .parquet(path))
