#!/usr/bin/env python
"""Benchmark harness: run the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

Each query is fully materialized via the `noop` sink (forces the whole
plan to execute without driver-side collect — the honest measure of
distributed throughput).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family, weighted toward the heavy
# shuffles (joins, window chains, pairwise similarity).
HEADLINE = [
    "w_missing_pose_detection",
    "w9_missing_pose_scalable",
    "w4_running_total",
    "j1_fanout_broadcast_join",
    "j2_key_intersection_join",
    "a1_a2_collect_having",
    "a4_a6_a7_a8_a9_a11_stats",
    "a5_a10_pricing_cube",
    "t2_t3_t5_topk_order_sample",
    "t4_argmin_argmax",
    "s4_robot_program_parse",
    "f13_f14_pose_grid_rotation",
    "tx1_tx2_tx4_token_quality",
    "tx6_ngram_jaccard_neardup",
    "tx7_repetition_signals",
    "tx8_benchmark_decontam",
    "tx9_tfidf_vocab",
    "dx4_neardup_cluster_cc",
    "smp1_stratified_sample",
    "f5_f6_f9_s7_event_deltas",
    "dx3_embedding_cosine_neardup",
    "sim1_sim2_cosine_topk",
    "sim3_sim4_ivf_train_assign",
    "w7_w8_time_windows",
    "x1_x2_x3_setops",
    "w10_session_window_batch",
    "dx5_lsh_neardup_decision",
    "dx6_passage_dup",
    "sx3_ivf_probe_topk",
    "sim5_quantize_int8",
    "tx10_bpe_token_count",
    "tx11_chunk_pack_split",
    "w11_exposure_groups_batch",
]


def main() -> None:
    # A missing/mistyped $SPARK_GRAFT_SF_DIR should fail with one
    # clear line, not a FileNotFoundError from the sizing heuristic.
    if not os.path.isdir(SF_DIR):
        sys.exit(f"bench: SPARK_GRAFT_SF_DIR={SF_DIR!r} is not a "
                 f"directory")

    from light_redistribution_in_3dptf_data_pipeline_spark.queries import QUERIES
    from light_redistribution_in_3dptf_data_pipeline_spark.session import get_spark

    # Driver memory must be fixed BEFORE the JVM starts, so size it
    # from the fixture footprint here (≈200x input bytes covers the
    # worst aggregate working set — sf1's exhaustive shingle join
    # needs ~40g): explicit $SPARK_GRAFT_DRIVER_MEM always wins. The
    # self-sized heap is capped against physical RAM (leave ≥8 GiB
    # for OS + Python workers) so smaller hosts don't over-commit.
    fixture_bytes = sum(
        os.path.getsize(os.path.join(SF_DIR, f))
        for f in os.listdir(SF_DIR) if f.endswith(".parquet"))
    if fixture_bytes > 100 * 1024 * 1024:
        try:
            ram_gib = (os.sysconf("SC_PAGE_SIZE")
                       * os.sysconf("SC_PHYS_PAGES")) >> 30
            heap = max(4, min(48, ram_gib - 8))
        except (ValueError, OSError):
            heap = 48
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{heap}g")

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    # Size shuffle parallelism to the actual input scale — the 100 TB
    # knob (tune_for_scale): at bench scale it keeps the default, on a
    # real corpus it raises static shuffle partitions so one partition
    # stays executor-memory-sized and AQE coalesces the excess.
    from light_redistribution_in_3dptf_data_pipeline_spark.session import (
        tune_for_scale)
    tune_for_scale(spark, fixture_bytes)

    # JVM/codegen/file-listing warm-up so t=0 effects don't pollute q1:
    # touch every fixture table once with a cheap count.
    from light_redistribution_in_3dptf_data_pipeline_spark.catalog import (
        TABLES, load_table)
    for t in TABLES:
        load_table(spark, SF_DIR, t).count()
    QUERIES["t2_t3_t5_topk_order_sample"].builder(spark, SF_DIR).collect()
    # Python/Arrow worker warm-up (same one-time-cost class as JVM
    # codegen): spin the daemon up on a 1-row frame so the first
    # Arrow-stage query doesn't pay ~4 s of worker startup.
    import pandas as _pd
    spark.range(1).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long").collect()

    # Previous round's summary, read BEFORE this run overwrites it:
    # the normalization anchor (VERDICT r10 brief #7 — r9's recorded
    # +11.7% on byte-identical query code was pure host load).
    # BENCH_LAST_sf{sf}.json is the committed per-scale copy
    # bench.py leaves behind; BENCH_SUMMARY.json (gitignored) is the
    # bootstrap fallback. A candidate at a different scale factor is
    # skipped (smoke runs at sf0.001 must not shadow the sf0.1
    # anchor).
    repo = os.path.dirname(os.path.abspath(__file__))
    last_name = f"BENCH_LAST_sf{sf}.json"
    prev, prev_src = None, None
    for cand in (last_name, "BENCH_SUMMARY.json"):
        try:
            with open(os.path.join(repo, cand)) as f:
                doc = json.load(f)
        except (OSError, ValueError):
            continue
        if doc.get("sf") == sf and isinstance(
                doc.get("queries_warm"), dict):
            prev, prev_src = doc, cand
            break

    # Four legs per query: first-run (includes codegen compile —
    # comparable to every prior round's cold numbers) and THREE warm
    # runs whose MEDIAN is the steady-state record. One warm sample
    # proved too noisy to compare round-over-round (r9: ±12% on
    # untouched queries); the median of three rejects a single
    # host-load spike per leg.
    WARM_RUNS = 3

    # HOST-CALIBRATION leg (r12 brief #6; resized r14 per VERDICT
    # r13 #4 + ADVICE): a fixed, DATA-INDEPENDENT CPU-bound
    # aggregation — identical work every round, every scale factor —
    # so a uniformly slower host (r12: driver 1.29 vs builder 1.12)
    # is separated from plan drift MECHANICALLY. The r13 leg's
    # 0.354 s warm was too small a denominator (its own noise
    # injected a ±15% phantom "regression"); v2's 256M rows ran
    # ~0.53 s warm on a 32-core host with CV 16% — the 5% gate fired
    # every round and the ruler never engaged (VERDICT r14 "what's
    # missing" #3 predicted exactly this). v3 runs 1G rows (~1.2 s
    # warm, measured CV 4.0% on the same host), takes the median of
    # FIVE warm runs, RECORDS the spread, and the normalization below
    # refuses the adjustment — and says so — when the calibration CV
    # exceeds 5% or the prior round ran a different leg version (so
    # the r15-vs-r14 comparison reads raw ratios by design; v3-to-v3
    # engages from r16). Not counted in the totals (it is a ruler,
    # not a workload).
    CALIB_VERSION = 3
    from pyspark.sql import functions as _F

    def _calibration_leg():
        (spark.range(0, 1_024_000_000, 1, 32)
         .select((_F.col("id") % 9973).alias("k"),
                 ((_F.col("id") * 2654435761) % 1000003).alias("v"))
         .groupBy("k")
         .agg(_F.sum("v").alias("s"), _F.count("*").alias("n"))
         .write.format("noop").mode("overwrite").save())

    def _run(fn, warm_runs: int = WARM_RUNS
             ) -> "tuple[float, float, list[float]]":
        t0 = time.perf_counter()
        fn()
        cold = time.perf_counter() - t0
        warms = []
        for _ in range(warm_runs):
            t0 = time.perf_counter()
            fn()
            warms.append(time.perf_counter() - t0)
        return cold, statistics.median(warms), warms

    calib_cold, calib_warm, calib_all = _run(_calibration_leg,
                                             warm_runs=5)
    calib_cv = round(statistics.pstdev(calib_all)
                     / (sum(calib_all) / len(calib_all)), 4)
    print(f"# calibration(v{CALIB_VERSION}): {calib_cold:.3f}s "
          f"(warm median {calib_warm:.3f}s, cv {calib_cv})",
          file=sys.stderr)

    per_query: dict[str, float] = {}
    per_query_warm: dict[str, float] = {}
    total = total_warm = 0.0
    for name in HEADLINE:
        q = QUERIES[name]
        cold, warm, _ = _run(
            lambda: q.builder(spark, SF_DIR).write.format("noop")
            .mode("overwrite").save())
        per_query[name] = round(cold, 3)
        per_query_warm[name] = round(warm, 3)
        total += cold
        total_warm += warm
        print(f"# {name}: {cold:.3f}s (warm median {warm:.3f}s)",
              file=sys.stderr)

    # Incremental-ingest leg: the production daily-batch shape
    # (delta-dedup against a persisted index + manifest-last commit),
    # so plan regressions in the ingest path show up here, not only
    # in the analytic queries. Setup (standing 80% index) is untimed;
    # the two timed legs ingest equal-shaped deltas (10% new + 10%
    # re-keyed exact dups) under fresh batch ids — leg 2 is the
    # "warm" column (codegen cached, index resident in page cache).
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from light_redistribution_in_3dptf_data_pipeline_spark.plans.corpus import (
        ingest_delta)

    ingest_root = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        docs = load_table(spark, SF_DIR, "documents")
        # standing 60% index (was 80% through r9 — one extra warm
        # leg per ingest family needed two more equal-shaped deltas;
        # the delta shape itself is unchanged: 10% fresh + the dup
        # block)
        base = docs.filter(F.pmod(F.col("doc_id"), 10) < 6)
        ingest_delta(spark, ingest_root, base, batch_id="base")
        dup = (docs.filter(F.pmod(F.col("doc_id"), 10) == 0)
               .withColumn("doc_id", F.col("doc_id") + 1_000_000_000))
        legs = []
        for i, fresh_mod in enumerate((6, 7, 8, 9)):
            delta = (docs.filter(F.pmod(F.col("doc_id"), 10) == fresh_mod)
                     .unionByName(dup.withColumn(
                         "doc_id", F.col("doc_id") + i)))
            t0 = time.perf_counter()
            ingest_delta(spark, ingest_root, delta, batch_id=f"delta{i}")
            legs.append(time.perf_counter() - t0)
        per_query["ingest_delta"] = round(legs[0], 3)
        per_query_warm["ingest_delta"] = round(
            statistics.median(legs[1:]), 3)
        total += legs[0]
        total_warm += per_query_warm["ingest_delta"]
        print(f"# ingest_delta: {legs[0]:.3f}s (warm median "
              f"{per_query_warm['ingest_delta']:.3f}s)",
              file=sys.stderr)
    finally:
        shutil.rmtree(ingest_root, ignore_errors=True)

    # Incremental-ANN legs: the vector-side production shape (delta
    # bucketing + manifest-last commit, then a partition-pruned
    # probe), so protocol-cost regressions in the similarity layer
    # are tracked round-over-round like the corpus ingest. Setup
    # (standing 80% index) is untimed; the two timed ingest legs are
    # equal-shaped 10% deltas; the probe leg is the same query twice
    # (first/warm).
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.ann_index import (
        ann_incremental_topk, ann_ingest_delta)

    def _ingest_legs(name: str, ingest_one) -> None:
        """cold + median-of-3-warm for a 4-delta ingest family."""
        legs = []
        for i, mod in enumerate((6, 7, 8, 9)):
            t0 = time.perf_counter()
            ingest_one(i, mod)
            legs.append(time.perf_counter() - t0)
        per_query[name] = round(legs[0], 3)
        per_query_warm[name] = round(statistics.median(legs[1:]), 3)
        print(f"# {name}: {legs[0]:.3f}s (warm median "
              f"{per_query_warm[name]:.3f}s)", file=sys.stderr)

    ann_root = tempfile.mkdtemp(prefix="bench_ann_")
    try:
        embt = load_table(spark, SF_DIR, "embeddings")
        base = embt.filter(F.pmod(F.col("vec_id"), 10) < 6)
        ann_ingest_delta(spark, ann_root, base, "base")
        _ingest_legs("ann_ingest", lambda i, mod: ann_ingest_delta(
            spark, ann_root,
            embt.filter(F.pmod(F.col("vec_id"), 10) == mod),
            f"delta{i}"))
        total += per_query["ann_ingest"]
        total_warm += per_query_warm["ann_ingest"]

        # probe the COMPACTED index (untimed compaction): the probe
        # cost then measures the steady-state production shape and
        # is independent of how many deltas the ingest legs ran —
        # per-batch directory fan-out is the ingest legs' story
        from light_redistribution_in_3dptf_data_pipeline_spark.plans.ann_index import (
            compact_ann_batches)
        compact_ann_batches(spark, ann_root)
        qvec = [float(x) for x in
                embt.filter("vec_id = 0").select("embedding")
                .head()[0]]
        cold, warm, _ = _run(
            lambda: ann_incremental_topk(spark, ann_root, qvec,
                                         exclude_id=0)
            .write.format("noop").mode("overwrite").save())
        per_query["ann_topk"] = round(cold, 3)
        per_query_warm["ann_topk"] = round(warm, 3)
        total += cold
        total_warm += warm
        print(f"# ann_topk: {cold:.3f}s (warm median {warm:.3f}s)",
              file=sys.stderr)

        # BATCH probe leg (r11): see the ivf_batch32 twin below
        from light_redistribution_in_3dptf_data_pipeline_spark.plans.ann_index import (
            ann_batch_topk)
        queries32 = (embt.filter("vec_id < 32")
                     .select(F.col("vec_id").alias("qid"),
                             "embedding"))
        cold, warm, _ = _run(
            lambda: ann_batch_topk(spark, ann_root, queries32)
            .write.format("noop").mode("overwrite").save())
        per_query["ann_batch32_topk"] = round(cold, 3)
        per_query_warm["ann_batch32_topk"] = round(warm, 3)
        total += cold
        total_warm += warm
        print(f"# ann_batch32_topk: {cold:.3f}s "
              f"(warm median {warm:.3f}s)", file=sys.stderr)
    finally:
        shutil.rmtree(ann_root, ignore_errors=True)

    # Incremental-IVF legs, same shape as the ANN pair: quantizer
    # training + standing 80% index untimed, two timed 10% deltas
    # placed by the frozen quantizer (the production path — no
    # labels), then the pruned cell-probe twice (first/warm).
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.ivf_index import (
        init_ivf_index, ivf_incremental_topk, ivf_ingest_delta)

    ivf_root = tempfile.mkdtemp(prefix="bench_ivf_")
    try:
        embt = load_table(spark, SF_DIR, "embeddings")
        init_ivf_index(spark, ivf_root, embt)
        ivf_ingest_delta(spark, ivf_root,
                         embt.filter(F.pmod(F.col("vec_id"), 10) < 6)
                         .drop("label"), "base")
        _ingest_legs("ivf_ingest", lambda i, mod: ivf_ingest_delta(
            spark, ivf_root,
            embt.filter(F.pmod(F.col("vec_id"), 10) == mod)
            .drop("label"), f"delta{i}"))
        total += per_query["ivf_ingest"]
        total_warm += per_query_warm["ivf_ingest"]

        # compacted-index probe, same reasoning as the ann leg
        from light_redistribution_in_3dptf_data_pipeline_spark.plans.ivf_index import (
            compact_ivf_batches)
        compact_ivf_batches(spark, ivf_root)
        qvec = [float(x) for x in
                embt.filter("vec_id = 0").select("embedding")
                .head()[0]]
        cold, warm, _ = _run(
            lambda: ivf_incremental_topk(spark, ivf_root, qvec,
                                         exclude_id=0)
            .write.format("noop").mode("overwrite").save())
        per_query["ivf_topk"] = round(cold, 3)
        per_query_warm["ivf_topk"] = round(warm, 3)
        total += cold
        total_warm += warm
        print(f"# ivf_topk: {cold:.3f}s (warm median {warm:.3f}s)",
              file=sys.stderr)

        # BATCH probe leg (r11): 32 queries in ONE job — the eval/
        # serving shape; compare per-query cost against ivf_topk
        # (results are parity-pinned equal, so this is pure
        # throughput)
        from light_redistribution_in_3dptf_data_pipeline_spark.plans.ivf_index import (
            ivf_batch_topk)
        queries32 = (embt.filter("vec_id < 32")
                     .select(F.col("vec_id").alias("qid"),
                             "embedding"))
        cold, warm, _ = _run(
            lambda: ivf_batch_topk(spark, ivf_root, queries32)
            .write.format("noop").mode("overwrite").save())
        per_query["ivf_batch32_topk"] = round(cold, 3)
        per_query_warm["ivf_batch32_topk"] = round(warm, 3)
        total += cold
        total_warm += warm
        print(f"# ivf_batch32_topk: {cold:.3f}s "
              f"(warm median {warm:.3f}s)", file=sys.stderr)
    finally:
        shutil.rmtree(ivf_root, ignore_errors=True)

    # int8-postings probe legs (r12): the same compacted-index probe
    # over codes-only storage — at 100 TB the postings scan dominates
    # probe cost and this is the compressed-scan number (bytes ~3×
    # down; scoring is the exact scale-free code cosine). Setup
    # (init/ingest/compact) untimed, probe first/warm like the float
    # twins above.
    for fam, mk in (("ivf8_topk", "ivf"), ("ann8_topk", "ann")):
        root8 = tempfile.mkdtemp(prefix=f"bench_{fam}_")
        try:
            embt = load_table(spark, SF_DIR, "embeddings")
            if mk == "ivf":
                init_ivf_index(spark, root8, embt, storage="int8")
                ivf_ingest_delta(spark, root8, embt.drop("label"),
                                 "all")
                compact_ivf_batches(spark, root8)
                probe = lambda: ivf_incremental_topk(  # noqa: E731
                    spark, root8, qvec, exclude_id=0)
            else:
                ann_ingest_delta(spark, root8, embt, "all",
                                 storage="int8")
                compact_ann_batches(spark, root8)
                probe = lambda: ann_incremental_topk(  # noqa: E731
                    spark, root8, qvec, exclude_id=0)
            cold, warm, _ = _run(
                lambda: probe()
                .write.format("noop").mode("overwrite").save())
            per_query[fam] = round(cold, 3)
            per_query_warm[fam] = round(warm, 3)
            total += cold
            total_warm += warm
            print(f"# {fam}: {cold:.3f}s (warm median {warm:.3f}s)",
                  file=sys.stderr)
        finally:
            shutil.rmtree(root8, ignore_errors=True)

    # Early-exit probe legs (r12 brief #1): a CLUSTERED int8 IVF
    # root probed at nprobe=4 — the regime where the direction-box
    # bound prunes (a uniform fixture's boxes are loose by design;
    # tools/recall.py measures that split). Plain vs early_exit=True
    # on the SAME root: the delta is the measured pruning win. Plus
    # the LSH pair at hamming=2 (25 of 256 buckets probed).
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.recall import (
        clustered_embeddings)

    ee_root = tempfile.mkdtemp(prefix="bench_ee_")
    ann_ee_root = tempfile.mkdtemp(prefix="bench_ee_ann_")
    try:
        embt = load_table(spark, SF_DIR, "embeddings")
        clu = clustered_embeddings(embt.drop("label")).localCheckpoint()
        init_ivf_index(spark, ee_root, clu, train_k=8,
                       train_metric="dot", storage="int8")
        ivf_ingest_delta(spark, ee_root, clu, "all")
        compact_ivf_batches(spark, ee_root)
        ann_ingest_delta(spark, ann_ee_root, clu, "all",
                         storage="int8")
        compact_ann_batches(spark, ann_ee_root)
        qvec_c = [float(x) for x in
                  clu.filter("vec_id = 0").select("embedding")
                  .head()[0]]
        # early_exit=True is BOX mode since r14 (zero-job bound —
        # must read ≤ the plain leg on this idle session). The r13/r14
        # *_seed headline legs are RETIRED (r14 VERDICT #8): the
        # opt-in two-phase mode's cost model is recorded in
        # EE_COSTMODEL_r14.json — re-measuring a known number cost
        # 1.7 s of headline wall every round.
        for fam, probe in (
                ("ivf8_np4_topk",
                 lambda: ivf_incremental_topk(
                     spark, ee_root, qvec_c, nprobe=4, exclude_id=0)),
                ("ivf8_np4_ee_topk",
                 lambda: ivf_incremental_topk(
                     spark, ee_root, qvec_c, nprobe=4, exclude_id=0,
                     early_exit=True)),
                ("ann8_h2_topk",
                 lambda: ann_incremental_topk(
                     spark, ann_ee_root, qvec_c, hamming=2,
                     exclude_id=0)),
                ("ann8_h2_ee_topk",
                 lambda: ann_incremental_topk(
                     spark, ann_ee_root, qvec_c, hamming=2,
                     exclude_id=0, early_exit=True))):
            cold, warm, _ = _run(
                lambda: probe()
                .write.format("noop").mode("overwrite").save())
            per_query[fam] = round(cold, 3)
            per_query_warm[fam] = round(warm, 3)
            total += cold
            total_warm += warm
            print(f"# {fam}: {cold:.3f}s (warm median {warm:.3f}s)",
                  file=sys.stderr)

        # Chunked-batch concurrency legs (r12 brief #2): 128 queries
        # at max_queries_per_job=16 (8 chunks) — serial vs the
        # bounded driver pool; results are parity-pinned equal, the
        # delta is pure occupancy between chunk tails.
        from light_redistribution_in_3dptf_data_pipeline_spark.plans.ivf_index import (
            ivf_batch_topk)
        q128 = (clu.filter("vec_id < 128")
                .select(F.col("vec_id").alias("qid"), "embedding")
                .localCheckpoint())
        for fam, conc in (("ivf8_batch128_chunk16_serial", 1),
                          ("ivf8_batch128_chunk16_par", 4)):
            cold, warm, _ = _run(
                lambda: ivf_batch_topk(
                    spark, ee_root, q128, nprobe=2,
                    max_queries_per_job=16, chunk_concurrency=conc)
                .write.format("noop").mode("overwrite").save())
            per_query[fam] = round(cold, 3)
            per_query_warm[fam] = round(warm, 3)
            total += cold
            total_warm += warm
            print(f"# {fam}: {cold:.3f}s (warm median {warm:.3f}s)",
                  file=sys.stderr)
    finally:
        shutil.rmtree(ee_root, ignore_errors=True)
        shutil.rmtree(ann_ee_root, ignore_errors=True)

    # Multi-table LSH legs (r13 VERDICT #3): a 4-table uniform root,
    # compacted, probed single + batch — the recall-lifting config's
    # wall cost next to the single-table ann_topk/ann_batch32 legs
    # above (recall itself is RECALL_r{N}.json's story). Setup
    # untimed.
    mt_root = tempfile.mkdtemp(prefix="bench_mt_")
    try:
        embt = load_table(spark, SF_DIR, "embeddings")
        ann_ingest_delta(spark, mt_root, embt, "all", num_tables=4)
        compact_ann_batches(spark, mt_root)
        qvec = [float(x) for x in
                embt.filter("vec_id = 0").select("embedding")
                .head()[0]]
        cold, warm, _ = _run(
            lambda: ann_incremental_topk(spark, mt_root, qvec,
                                         exclude_id=0)
            .write.format("noop").mode("overwrite").save())
        per_query["ann_mt4_topk"] = round(cold, 3)
        per_query_warm["ann_mt4_topk"] = round(warm, 3)
        total += cold
        total_warm += warm
        print(f"# ann_mt4_topk: {cold:.3f}s (warm median "
              f"{warm:.3f}s)", file=sys.stderr)
        queries32 = (embt.filter("vec_id < 32")
                     .select(F.col("vec_id").alias("qid"),
                             "embedding"))
        cold, warm, _ = _run(
            lambda: ann_batch_topk(spark, mt_root, queries32)
            .write.format("noop").mode("overwrite").save())
        per_query["ann_mt4_batch32_topk"] = round(cold, 3)
        per_query_warm["ann_mt4_batch32_topk"] = round(warm, 3)
        total += cold
        total_warm += warm
        print(f"# ann_mt4_batch32_topk: {cold:.3f}s (warm median "
              f"{warm:.3f}s)", file=sys.stderr)
        # batch BUDGET probes (r15 brief #1): the margin-ranked
        # probe_buckets mode shipped broken in r14 with no bench
        # coverage — this leg keeps the path from ever silently
        # breaking again (37 = the parity test's largest budget)
        cold, warm, _ = _run(
            lambda: ann_batch_topk(spark, mt_root, queries32,
                                   probe_buckets=37)
            .write.format("noop").mode("overwrite").save())
        per_query["ann_mt4_batch32_pb37"] = round(cold, 3)
        per_query_warm["ann_mt4_batch32_pb37"] = round(warm, 3)
        total += cold
        total_warm += warm
        print(f"# ann_mt4_batch32_pb37: {cold:.3f}s (warm median "
              f"{warm:.3f}s)", file=sys.stderr)
    finally:
        shutil.rmtree(mt_root, ignore_errors=True)

    summary = {
        "metric": "headline_queries_total_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        # warm = MEDIAN of 3 steady-state runs per leg (r10); the
        # duplicate key keeps older tooling reading queries_warm alive
        "queries_warm": per_query_warm,
        "queries_warm_median": per_query_warm,
        "value_warm": round(total_warm, 3),
        # the fixed CPU ruler (r12 brief #6; v2 sizing r14) — NOT in
        # the totals. `cv` is the warm spread; the normalization
        # refuses host adjustment when it exceeds 5%.
        "calibration": {"cold": round(calib_cold, 3),
                        "warm": round(calib_warm, 3),
                        "warm_runs": [round(t, 3) for t in calib_all],
                        "cv": calib_cv,
                        "version": CALIB_VERSION},
        "sf": sf,
        # the effective Spark placement, so a reader can check the
        # core count the legs ran on instead of inferring it
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        # the runtime profile the legs ran under (session.py)
        "driver_jvm_args": list(
            spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getRuntimeMXBean().getInputArguments()),
        "python_daemon_module": spark.sparkContext.getConf().get(
            "spark.python.daemon.module", "pyspark.daemon"),
    }

    # In-run normalization against the previous round (r10 brief #7):
    # the per-leg warm ratio vs the prior summary, with the MEDIAN
    # ratio over shared legs as the host-load factor — byte-identical
    # code on a loaded host reads ~1.1-1.2x uniformly, a real plan
    # regression reads as one leg far off the median. value_warm_
    # normalized divides out that factor.
    if prev and isinstance(prev.get("queries_warm"), dict) \
            and prev.get("sf") == sf:
        pw = prev["queries_warm"]
        ratios = {n: round(per_query_warm[n] / pw[n], 3)
                  for n in per_query_warm
                  if n in pw and pw[n] and per_query_warm[n]}
        # host factor from the CALIBRATION ruler when the prior run
        # recorded a COMPARABLE one (r12 brief #6, hardened r14):
        # byte-identical CPU work, so its ratio IS the host-speed
        # change. The adjustment is REFUSED — and the reason
        # recorded — when the prior leg is a different version
        # (resized r14), absent (pre-r13), or this run's calibration
        # spread exceeds 5% (a noisy ruler injects, not removes,
        # phantom regressions — the r13 artifact). The OUTLIER rule
        # always keys off RAW ratios vs the raw median: dividing
        # every ratio and the median by the same host factor cannot
        # change which legs flag (ADVICE r13) — host adjustment is
        # reporting-only.
        prev_cal = prev.get("calibration") or {}
        host, host_note = 1.0, None
        if prev_cal.get("version") != CALIB_VERSION:
            host_note = (f"prev calibration version "
                         f"{prev_cal.get('version')} != "
                         f"{CALIB_VERSION} — raw ratios only")
        elif calib_cv > 0.05:
            host_note = (f"calibration cv {calib_cv} > 0.05 — "
                         f"ruler too noisy, raw ratios only")
        elif prev_cal.get("warm"):
            host = round(calib_warm / prev_cal["warm"], 3)
        if ratios:
            med = statistics.median(ratios.values())
            summary["normalized_vs_prev"] = {
                "prev_source": prev_src,
                "n_shared_legs": len(ratios),
                "median_ratio": round(med, 3),
                "host_factor": host,
                "median_ratio_host_adjusted": round(med / host, 3),
                "value_warm_normalized": round(total_warm / med, 3),
                "value_warm_host_adjusted": round(total_warm / host,
                                                  3),
                # raw-ratio outliers vs the raw median (ADVICE r13:
                # the adjusted copy was mathematically the same rule)
                "outlier_legs": {
                    n: r for n, r in sorted(ratios.items())
                    if r > med * 1.5 or r < med / 1.5},
            }
            if host_note:
                summary["normalized_vs_prev"]["host_factor_note"] = \
                    host_note
            print(f"# normalized vs {prev_src}: median ratio {med:.3f} "
                  f"(host factor {host:.3f}"
                  + (f"; {host_note}" if host_note else "")
                  + f") over {len(ratios)} legs -> "
                  f"value_warm_normalized "
                  f"{summary['normalized_vs_prev']['value_warm_normalized']}",
                  file=sys.stderr)

    print(json.dumps(summary))
    # Stdout-noise-proof copy: Spark progress bars / JVM warnings can
    # mangle the stdout line in captured logs, leaving the recorded
    # bench blob unparseable (r1-r7 shipped a truncated "tail" string
    # that had to be regex-scraped). The file is the machine-readable
    # record; $SPARK_GRAFT_BENCH_OUT overrides the location.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_SUMMARY.json"))
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
        f.write("\n")
    # committed copy = next round's normalization anchor (the
    # driver's BENCH_r{N}.json blob truncates the JSON line);
    # per-sf filename so a smoke run at another scale can't shadow it
    with open(os.path.join(repo, last_name), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"# summary written to {out_path}", file=sys.stderr)


if __name__ == "__main__":
    main()
