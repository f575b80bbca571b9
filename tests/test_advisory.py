"""Ranked maintenance advisory (plans/advisory.py — VERDICT r11
brief #4): injected skew, drift, pin-hoarding, and batch fan-out
each surface the RIGHT top-ranked action, each citing its signal;
a healthy root gets an empty list; verify_deployment(advise=True)
carries the advisory as an optional section."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from light_redistribution_in_3dptf_data_pipeline_spark.catalog import load_table
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    advisory as ADV)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ann_index as A)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    ivf_index as I)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    recall as R)
from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
    snapshots as SN)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def cl(spark, emb):
    return R.clustered_embeddings(emb).localCheckpoint()


def _drift(emb):
    """The diagonal cluster the frozen 8-cell quantizer splits
    across ≥3 cells (test_ann_streaming's fixture): queries from it
    measurably lose recall at nprobe=2."""
    return emb.filter("vec_id < 100").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x, i: (x * 0.3
                          + F.when(i.isin([1, 3, 5, 7]), 5.0)
                          .otherwise(F.lit(0.0))).cast("float"))
        .alias("embedding"))


def test_healthy_root_needs_nothing(spark, cl, tmp_path):
    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root, cl, train_k=8)
    I.ivf_ingest_delta(spark, root, cl, "d1")
    R.record_recall_sample(spark, root, "d1", n_queries=4, floor=0.9)
    rep = ADV.suggest_maintenance(spark, root)
    assert rep["actions"] == [] and rep["fsck_violations"] == []
    assert rep["kind"] == "ivf_incremental"


def test_drift_ranks_retrain_first(spark, emb, cl, tmp_path):
    """Injected drift decays the measured recall canary below floor
    AND piles into few cells — the advisory must rank
    retrain_migrate ABOVE the co-present skew compaction."""
    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root, cl.select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"),
        train_k=8)
    I.ivf_ingest_delta(spark, root, cl.select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"), "d1")
    I.ivf_ingest_delta(spark, root, _drift(emb), "d2")
    R.record_recall_sample(spark, root, "d2", n_queries=8, floor=0.9)
    rep = ADV.suggest_maintenance(spark, root, occupancy_skew=2.0)
    names = [a["action"] for a in rep["actions"]]
    assert names[0] == "retrain_migrate", rep["actions"]
    assert "recall canary ended below floor" in \
        rep["actions"][0]["reason"]
    assert rep["actions"][0]["signal"]["recall"]["below_floor"]


def test_skew_ranks_hot_compaction_first(spark, cl, tmp_path):
    """A single-direction pile-up (all rows in one of 8 cells) trips
    the occupancy canary with a HEALTHY recall series → compact_hot
    is the top action and cites the hot cell."""
    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root, cl, train_k=8)
    I.ivf_ingest_delta(spark, root, cl, "d1")
    # pile: 200 more vectors all on ONE axis → one hot cell
    pile = cl.filter("vec_id < 200").select(
        (F.col("vec_id") + 5000).alias("vec_id"),
        F.transform("embedding",
                    lambda x, i: (x * 0.0
                                  + F.when(i == 0, 5.0)
                                  .otherwise(F.lit(0.0)))
                    .cast("float")).alias("embedding"))
    I.ivf_ingest_delta(spark, root, pile, "d2")
    rep = ADV.suggest_maintenance(spark, root, occupancy_skew=3.0)
    names = [a["action"] for a in rep["actions"]]
    assert names and names[0] == "compact_hot", rep["actions"]
    assert "occupancy skew" in rep["actions"][0]["reason"]
    assert rep["actions"][0]["signal"]["occupancy"]["max"] > 200


def test_pin_hoarding_and_batch_fanout(spark, emb, tmp_path):
    """An aged pin holding superseded batches → release_pins; many
    live batches → compact_batches; both cite their signals and
    rank below quality/skew actions by construction."""
    root = str(tmp_path / "ann")
    for i in range(5):
        A.ann_ingest_delta(
            spark, root,
            emb.filter((F.col("vec_id") >= 100 * i)
                       & (F.col("vec_id") < 100 * (i + 1))),
            f"d{i}")
    rep = ADV.suggest_maintenance(spark, root, max_live_batches=3)
    assert [a["action"] for a in rep["actions"]] == \
        ["compact_batches"]
    assert "5 live batches" in rep["actions"][0]["reason"]

    pin = SN.pin_snapshot(spark, root, owner="old-run",
                          created_at=1000.0)
    A.compact_ann_batches(spark, root)   # pin now holds superseded
    rep = ADV.suggest_maintenance(spark, root,
                                  max_pin_age_seconds=3600.0,
                                  now=1000.0 + 7200.0)
    names = [a["action"] for a in rep["actions"]]
    assert "release_pins" in names, rep["actions"]
    act = [a for a in rep["actions"]
           if a["action"] == "release_pins"][0]
    assert pin["snapshot_digest"] in act["signal"]["flagged"]
    assert "aged" in act["signal"]["flagged"][
        pin["snapshot_digest"]]["flags"]
    SN.release_pin(spark, root, pin["snapshot_digest"], owner=None)


def test_verify_deployment_carries_advice(spark, emb, cl, tmp_path):
    """advise=True: the one-call health check now ALSO answers 'what
    should I run' — per index root, ranked."""
    from test_snapshots import _docs

    from light_redistribution_in_3dptf_data_pipeline_spark.plans import corpus
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.linkage import (
        verify_deployment)

    croot = str(tmp_path / "c")
    got = corpus.ingest_delta(spark, croot,
                              _docs(spark, range(0, 20)), "c1")
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    sub = cl.filter(F.col("vec_id").isin(ids))
    iroot = str(tmp_path / "ivf")
    I.init_ivf_index(spark, iroot, cl, train_k=8)
    I.ivf_ingest_delta(spark, iroot, sub, "d1", corpus_batch="c1")

    rep = verify_deployment(spark, croot, [iroot], advise=True)
    assert rep["violations"] == []
    assert rep["advice"][iroot]["actions"] == []
    # without advise the section is absent (default unchanged)
    rep2 = verify_deployment(spark, croot, [iroot])
    assert "advice" not in rep2


def test_recall_series_orders_by_seq_not_batch_id(spark, cl,
                                                  tmp_path):
    """ADVICE r12 (medium): streaming file-derived batch ids sort
    lexicographically ('f10' < 'f9'), so recency must come from the
    monotonic ``seq`` each sample records, not the id. A stale
    below-floor sample at id 'f9' followed by a RECOVERED sample at
    id 'f10' must leave the advisory quiet — and the reverse must
    fire it."""
    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root, cl, train_k=8)
    I.ivf_ingest_delta(spark, root, cl, "f9")
    # stale below-floor sample recorded FIRST under id 'f9'
    # (floor 1.01 forces below_floor regardless of measured recall)
    d1 = R.record_recall_sample(spark, root, "f9", n_queries=4,
                                floor=1.01)
    assert d1["below_floor"] and d1["seq"] == 0
    # newest sample, healthy, under the lexicographically SMALLER id
    d2 = R.record_recall_sample(spark, root, "f10", n_queries=4,
                                floor=0.5)
    assert not d2["below_floor"] and d2["seq"] == 1
    hist = R.recall_history(spark, root)
    assert [s["batch_id"] for s in hist["samples"]] == ["f9", "f10"]
    rep = ADV.suggest_maintenance(spark, root)
    assert [a["action"] for a in rep["actions"]] == [], rep["actions"]

    # reverse order on a fresh root: newest IS below floor → fires
    root2 = str(tmp_path / "ivf2")
    I.init_ivf_index(spark, root2, cl, train_k=8)
    I.ivf_ingest_delta(spark, root2, cl, "f9")
    R.record_recall_sample(spark, root2, "f10", n_queries=4,
                           floor=0.5)
    R.record_recall_sample(spark, root2, "f9", n_queries=4,
                           floor=1.01)
    rep2 = ADV.suggest_maintenance(spark, root2)
    assert [a["action"] for a in rep2["actions"]] == \
        ["retrain_migrate"]


def test_advisory_reuses_caller_fsck(spark, cl, tmp_path):
    """ADVICE r12 (low): suggest_maintenance(fsck=...) consumes the
    already-computed fsck instead of re-running the aggregate scan —
    proven by handing it a DOCTORED report whose skew the healthy
    root does not have: the advisory must act on the doctored
    numbers."""
    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root, cl, train_k=8)
    I.ivf_ingest_delta(spark, root, cl, "d1")
    real = I.verify_ivf_index(spark, root)
    assert ADV.suggest_maintenance(spark, root,
                                   fsck=real)["actions"] == []
    doctored = {**real,
                "cell_occupancy": {**real["cell_occupancy"],
                                   "max": 10_000, "median": 10,
                                   "hottest_cell": 3}}
    rep = ADV.suggest_maintenance(spark, root, fsck=doctored)
    assert [a["action"] for a in rep["actions"]] == ["compact_hot"]
    assert "hottest_cell=3" in rep["actions"][0]["reason"]


# --- corpus-root advisory (r12 brief #4) ---------------------------

def _cdocs(spark, rows):
    return spark.createDataFrame(
        [(int(i), t, "en", "s", len(t)) for i, t in rows],
        "doc_id LONG, text STRING, lang STRING, "
        "source STRING, n_chars LONG")


def _clean_doc(i):
    return " ".join(f"w{i}x{j}q{(i * 7 + j * 13) % 997}"
                    for j in range(20))


_PASSAGE = ("meanwhile seventeen violet umbrellas drifted calmly "
            "beneath wooden bridges nine kilometers north of the "
            "quiet observatory where nobody counted the stars")


def test_corpus_root_healthy_needs_nothing(spark, tmp_path):
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import corpus
    root = str(tmp_path / "c")
    corpus.ingest_delta(spark, root,
                        _cdocs(spark, [(i, _clean_doc(i))
                                       for i in range(10)]), "c1")
    rep = ADV.suggest_maintenance(spark, root)
    assert rep["kind"] == "corpus"
    assert rep["actions"] == [] and rep["fsck_violations"] == []


def test_corpus_gate_skew_says_investigate(spark, tmp_path):
    """One batch's passage-gate drop ratio far above the median →
    investigate_gates, naming the batch (order-free: max vs median,
    so 'f10'<'f9' id games cannot misroute it)."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import corpus
    root = str(tmp_path / "c")
    gate = dict(passage_min_shared=2, passage_max_doc_freq=100)
    corpus.ingest_delta(spark, root, _cdocs(
        spark, [(0, _clean_doc(0) + " " + _PASSAGE)]), "c1", **gate)
    corpus.ingest_delta(spark, root, _cdocs(
        spark, [(i, _clean_doc(i)) for i in range(10, 20)]),
        "c2", **gate)
    # 12 docs re-embedding the committed passage → all dropped
    corpus.ingest_delta(spark, root, _cdocs(
        spark, [(100 + i, _clean_doc(100 + i) + " " + _PASSAGE)
                for i in range(12)]), "c3", **gate)
    assert corpus.read_manifest(spark, root,
                                "c3")["n_passage_dropped"] == 12
    rep = ADV.suggest_maintenance(spark, root)
    names = [a["action"] for a in rep["actions"]]
    assert names and names[0] == "investigate_gates", rep["actions"]
    assert rep["actions"][0]["signal"]["batch_id"] == "c3"
    assert "batch c3" in rep["actions"][0]["reason"]


def test_corpus_fanout_orphans_and_pins(spark, tmp_path):
    """5 live batches → compact_batches; a crashed (unmanifested)
    ingest partition → prune_superseded PRICED in bytes; an aged pin
    → release_pins; severities rank them in that order."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import corpus
    root = str(tmp_path / "c")
    for b in range(5):
        corpus.ingest_delta(spark, root, _cdocs(
            spark, [(b * 100 + i, _clean_doc(b * 100 + i))
                    for i in range(8)]), f"c{b}")
    with pytest.raises(RuntimeError, match="injected crash"):
        corpus.ingest_delta(spark, root, _cdocs(
            spark, [(900 + i, _clean_doc(900 + i))
                    for i in range(8)]), "crashed",
            _crash_after="corpus")
    pin = SN.pin_snapshot(spark, root, owner="old",
                          created_at=1000.0)
    rep = ADV.suggest_maintenance(spark, root, max_live_batches=3,
                                  max_pin_age_seconds=3600.0,
                                  now=1000.0 + 7200.0)
    names = [a["action"] for a in rep["actions"]]
    assert names == ["compact_batches", "prune_superseded",
                     "release_pins"], rep["actions"]
    prune = rep["actions"][1]
    assert prune["signal"]["orphans"] == ["crashed"]
    assert prune["signal"]["prunable_bytes"] > 0
    SN.release_pin(spark, root, pin["snapshot_digest"], owner=None)


def test_verify_deployment_advises_corpus_root(spark, cl, tmp_path):
    """advise=True now carries advice for EVERY root kind — the
    corpus entry present, kind-tagged, and quiet on a healthy
    deployment (fsck handed in, not recomputed)."""
    from test_snapshots import _docs

    from light_redistribution_in_3dptf_data_pipeline_spark.plans import corpus
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.linkage import (
        verify_deployment)

    croot = str(tmp_path / "c")
    got = corpus.ingest_delta(spark, croot,
                              _docs(spark, range(0, 20)), "c1")
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    iroot = str(tmp_path / "ivf")
    I.init_ivf_index(spark, iroot, cl, train_k=8)
    I.ivf_ingest_delta(spark, iroot,
                       cl.filter(F.col("vec_id").isin(ids)), "d1",
                       corpus_batch="c1")
    rep = verify_deployment(spark, croot, [iroot], advise=True)
    assert rep["violations"] == []
    assert rep["advice"][iroot]["kind"] == "ivf_incremental"
    assert rep["advice"][croot]["kind"] == "corpus"
    assert rep["advice"][croot]["actions"] == []


# --- advisory-driven runbook automation (r12 brief #8) --------------

def _pile(cl):
    """200 extra vectors on ONE axis — the hot-cell pile of
    test_skew_ranks_hot_compaction_first."""
    return cl.filter("vec_id < 200").select(
        (F.col("vec_id") + 5000).alias("vec_id"),
        F.transform("embedding",
                    lambda x, i: (x * 0.0
                                  + F.when(i == 0, 5.0)
                                  .otherwise(F.lit(0.0)))
                    .cast("float")).alias("embedding"))


def test_apply_maintenance_heals_skewed_root(spark, cl, tmp_path):
    """The e2e loop: injected hot-cell skew → advisory says
    compact_hot → ONE apply_maintenance call executes the size-aware
    compaction (manifest records the target) → the advisory reads
    EMPTY after (the loop-breaker: the hot partition's files now
    respect the recorded target; the residual row skew is the data's
    shape), and the fsck stays clean."""
    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root, cl, train_k=8)
    I.ivf_ingest_delta(spark, root, cl, "d1")
    I.ivf_ingest_delta(spark, root, _pile(cl), "d2")
    rep = ADV.apply_maintenance(spark, root, rows_per_file=64,
                                occupancy_skew=3.0)
    assert [a["action"] for a in
            rep["advice_before"]["actions"]] == ["compact_hot"]
    assert rep["applied"][0]["action"] == "compact_hot"
    assert rep["applied"][0]["result"].startswith("compact-")
    assert rep["skipped"] == []
    assert rep["advice_after"]["actions"] == [], rep["advice_after"]
    fsck = I.verify_ivf_index(spark, root)
    assert fsck["violations"] == []
    # the recorded target is what suppresses the re-advice
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.batches import (
        load_manifests)
    ms = load_manifests(spark, root)
    live = [m for b, m in ms.items() if b.startswith("compact-")]
    assert live and live[-1]["rows_per_file"] == 64


def test_apply_maintenance_corpus_and_dry_run(spark, tmp_path):
    """Corpus side: fan-out + a crashed ingest heal in one call;
    dry_run reports the same plan and mutates NOTHING."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import corpus
    root = str(tmp_path / "c")
    for b in range(5):
        corpus.ingest_delta(spark, root, _cdocs(
            spark, [(b * 100 + i, _clean_doc(b * 100 + i))
                    for i in range(8)]), f"c{b}")
    with pytest.raises(RuntimeError, match="injected crash"):
        corpus.ingest_delta(spark, root, _cdocs(
            spark, [(900, _clean_doc(900))]), "crashed",
            _crash_after="corpus")

    dry = ADV.apply_maintenance(spark, root, dry_run=True,
                                max_live_batches=3)
    assert [a["result"] for a in dry["applied"]] == \
        ["dry-run", "dry-run"]
    assert corpus.verify_corpus(spark, root)["live_batches"] == 5
    assert dry["advice_after"] is dry["advice_before"]

    rep = ADV.apply_maintenance(spark, root, max_live_batches=3)
    assert [a["action"] for a in rep["applied"]] == \
        ["compact_batches", "prune_superseded"]
    assert rep["advice_after"]["actions"] == [], rep["advice_after"]
    fsck = corpus.verify_corpus(spark, root)
    assert fsck["live_batches"] == 1 and fsck["violations"] == []
    assert fsck["orphans"] == []


def test_apply_maintenance_keeps_retrain_for_operators(spark, emb,
                                                       cl, tmp_path):
    """Quality decay is a judgement call: apply_maintenance reports
    retrain_migrate under skipped and leaves it standing."""
    root = str(tmp_path / "ivf")
    I.init_ivf_index(spark, root, cl.select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"),
        train_k=8)
    I.ivf_ingest_delta(spark, root, cl.select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"), "d1")
    I.ivf_ingest_delta(spark, root, _drift(emb), "d2")
    R.record_recall_sample(spark, root, "d2", n_queries=8, floor=0.9)
    rep = ADV.apply_maintenance(spark, root)
    assert rep["skipped"] == [{"action": "retrain_migrate",
                               "why": "operator-approved only"}]
    assert [a["action"] for a in
            rep["advice_after"]["actions"]] == ["retrain_migrate"]


# ------------------------------------------------------------- r14


def test_tune_probes_on_saturating_clustered_root(spark, emb,
                                                  tmp_path):
    """r13 VERDICT #8: a clustered root whose recall curve saturates
    at nprobe=1 (and whose boxes are tight) gets a tune_probes
    action naming the cheaper fan-out AND early_exit=True."""
    cl = R.clustered_embeddings(emb.drop("label")).localCheckpoint()
    root = str(tmp_path / "ivf_sat")
    I.init_ivf_index(spark, root, cl, train_k=8, train_metric="dot")
    I.ivf_ingest_delta(spark, root, cl, "d1")
    s1 = R.record_recall_sample(spark, root, "d1", n_queries=8,
                                nprobe=1)
    s4 = R.record_recall_sample(spark, root, "d1-np4", n_queries=8,
                                nprobe=4)
    assert s1["recall"] >= 0.98 * s4["recall"]
    rep = ADV.suggest_maintenance(spark, root)
    tune = [a for a in rep["actions"] if a["action"] == "tune_probes"]
    assert len(tune) == 1, rep["actions"]
    sig = tune[0]["signal"]
    assert sig["saturated"]["nprobe"]["use"] == 1
    assert sig["saturated"]["nprobe"]["measured_best"] == 4
    assert sig.get("early_exit") is True   # tight boxes
    assert "early_exit=True" in tune[0]["reason"]
    # apply_maintenance reports it as advice-only, never mutates
    out = ADV.apply_maintenance(spark, root, dry_run=True)
    whys = {s["action"]: s["why"] for s in out["skipped"]}
    assert "tune_probes" in whys
    assert "advice-only" in whys["tune_probes"]


def test_tune_probes_quiet_on_climbing_uniform_root(spark, emb,
                                                    tmp_path):
    """Uniform regime: recall still climbs with nprobe and the
    boxes are loose — NO tune_probes noise."""
    root = str(tmp_path / "ivf_uni")
    I.init_ivf_index(spark, root, emb, cell_col="label")
    I.ivf_ingest_delta(spark, root,
                       emb.select("vec_id", "embedding"), "d1")
    s1 = R.record_recall_sample(spark, root, "d1", n_queries=8,
                                nprobe=1)
    s4 = R.record_recall_sample(spark, root, "d1-np4", n_queries=8,
                                nprobe=4)
    assert s1["recall"] < 0.98 * s4["recall"], (s1, s4)
    rep = ADV.suggest_maintenance(spark, root)
    assert not [a for a in rep["actions"]
                if a["action"] == "tune_probes"], rep["actions"]


def _tt_sample(seq, num_tables, recall, scan_frac, knob="hamming",
               val=2):
    return {"seq": seq, "batch_id": f"b{seq}", "recall": recall,
            "k": 10, "n_queries": 8, "param": {knob: val},
            "num_tables": num_tables, "scan_frac": scan_frac}


def test_tune_tables_unit_prices_the_knob():
    """r15 brief #3, the pure pricing logic: two table settings
    measured, the smaller meets the target at a fraction of the
    scan — the action names it and prices the bigger L's premium."""
    hist = {"samples": [
        _tt_sample(0, 2, 0.6031, 0.2891),
        _tt_sample(1, 4, 0.8359, 0.5781),
    ]}
    # explicit target the cheaper config meets
    act = ADV._tune_tables_action(hist, recall_target=0.5)
    assert act is not None and act["action"] == "tune_tables"
    assert act["signal"]["use"]["num_tables"] == 2
    assert act["signal"]["measured_best"]["num_tables"] == 4
    assert "2× storage" in act["reason"] or "2x" in act["reason"] \
        or "2×" in act["reason"]
    # default target (0.95 × best = 0.794): only L=4 reaches it →
    # the big table count is earning its keep → QUIET
    assert ADV._tune_tables_action(hist) is None
    # explicit target only the largest L meets → quiet too
    assert ADV._tune_tables_action(hist, recall_target=0.8) is None
    # a single table setting proves nothing → quiet
    assert ADV._tune_tables_action(
        {"samples": [_tt_sample(0, 4, 0.9, 0.5)]},
        recall_target=0.5) is None
    # legacy samples without num_tables/scan_frac are ignored
    legacy = {"samples": [
        {"seq": 0, "batch_id": "b0", "recall": 0.9, "k": 10,
         "n_queries": 8, "param": {"hamming": 1}},
        _tt_sample(1, 4, 0.9, 0.5)]}
    assert ADV._tune_tables_action(legacy, recall_target=0.5) is None


def test_tune_tables_end_to_end_across_migration(spark, emb, cl,
                                                 tmp_path):
    """A clustered single-table root grades ~1.0, migrates to
    num_tables=4 (the recall series rides along — quality
    provenance), grades ~1.0 again: the advisory names num_tables=1
    as the cheapest setting meeting the target and prices L=4's
    extra storage. Advice-only under apply_maintenance."""
    old = str(tmp_path / "st")
    A.ann_ingest_delta(spark, old, cl, "d1")
    s_old = R.record_recall_sample(spark, old, "d1", n_queries=6,
                                   hamming=1)
    assert s_old["num_tables"] == 1 and "scan_frac" in s_old
    from light_redistribution_in_3dptf_data_pipeline_spark.plans.migration import (
        migrate_index)
    new = str(tmp_path / "mt4")
    migrate_index(spark, old, new, num_tables=4)
    s_new = R.record_recall_sample(spark, new, "mt-d1", n_queries=6,
                                   hamming=1)
    assert s_new["num_tables"] == 4
    hist = R.recall_history(spark, new)
    assert {s.get("num_tables") for s in hist["samples"]} == {1, 4}
    assert s_new["seq"] > s_old["seq"]   # series continues, not resets
    # carried samples are tagged provenance, not live health signals:
    # a below-floor sample of the OLD structure must not alarm the
    # fresh root (the runbook's post-cutover contract)
    carried = [s for s in hist["samples"] if "migrated_from" in s]
    assert carried and all(s["migrated_from"] == old for s in carried)
    strict = R.recall_history(spark, new, floor=1.1)   # everything
    #                          re-graded below this impossible floor
    assert all(b not in {c["batch_id"] for c in carried}
               for b in strict["below_floor"])
    target = min(s_old["recall"], s_new["recall"]) - 0.01
    rep = ADV.suggest_maintenance(spark, new, recall_target=target)
    acts = [a for a in rep["actions"] if a["action"] == "tune_tables"]
    assert len(acts) == 1, rep["actions"]
    assert acts[0]["signal"]["use"]["num_tables"] == 1
    assert acts[0]["signal"]["measured_best"]["num_tables"] == 4
    out = ADV.apply_maintenance(spark, new, dry_run=True,
                                recall_target=target)
    whys = {s["action"]: s["why"] for s in out["skipped"]}
    assert "tune_tables" in whys and "advice-only" in whys["tune_tables"]


def test_stale_index_freshness_advisory(spark, emb, tmp_path):
    """r15 brief #9: the corpus keeps committing batches the index
    never ingested — the advisory (given the corpus root) fires a
    stale_index action naming the lagging corpus batch and the
    index's last ingested one; ingesting the lag silences it."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        corpus, linkage)

    croot = str(tmp_path / "corpus")
    vroot = str(tmp_path / "ann")

    def _docs(ids):
        return spark.createDataFrame(
            [(int(i), " ".join(f"w{i}x{j}q{(i * 7 + j * 13) % 997}"
                               for j in range(14)), "en", "s", 1)
             for i in ids],
            "doc_id LONG, text STRING, lang STRING, "
            "source STRING, n_chars LONG")

    got1 = corpus.ingest_delta(spark, croot, _docs(range(1, 31)),
                               batch_id="d1")
    ids1 = sorted(r.doc_id for r in got1.select("doc_id").collect())
    A.ann_ingest_delta(spark, vroot,
                       emb.filter(F.col("vec_id").isin(ids1)),
                       "v1", corpus_batch="d1")
    # fresh: every live corpus batch covered → quiet
    rep = ADV.suggest_maintenance(spark, vroot, corpus_root=croot)
    assert not [a for a in rep["actions"]
                if a["action"] == "stale_index"], rep["actions"]
    # the corpus moves on; the index does not
    corpus.ingest_delta(spark, croot, _docs(range(100, 120)),
                        batch_id="d2")
    rep = ADV.suggest_maintenance(spark, vroot, corpus_root=croot)
    acts = [a for a in rep["actions"] if a["action"] == "stale_index"]
    assert len(acts) == 1, rep["actions"]
    sig = acts[0]["signal"]
    assert sig["unindexed_batches"] == ["d2"]
    assert sig["newest_unindexed"] == "d2"
    assert sig["last_ingested"] == "d1"
    assert "'d2'" in acts[0]["reason"] and "'d1'" in acts[0]["reason"]
    # the deployment check surfaces it without extra plumbing
    dep = linkage.verify_deployment(spark, croot, [vroot],
                                    advise=True)
    assert any(a["action"] == "stale_index"
               for a in dep["advice"][vroot]["actions"])
    # a tolerance of one batch keeps it quiet
    rep = ADV.suggest_maintenance(spark, vroot, corpus_root=croot,
                                  max_unindexed_batches=1)
    assert not [a for a in rep["actions"]
                if a["action"] == "stale_index"]
    # catching up silences it
    A.ann_ingest_delta(spark, vroot,
                       emb.filter("vec_id >= 100 and vec_id < 120"),
                       "v2", corpus_batch="d2")
    rep = ADV.suggest_maintenance(spark, vroot, corpus_root=croot)
    assert not [a for a in rep["actions"]
                if a["action"] == "stale_index"], rep["actions"]


def test_stale_index_all_unprovenanced_is_quiet(spark, emb, tmp_path):
    """r15 ADVICE low: a legacy deployment whose ingests never passed
    corpus_batch has UNKNOWABLE coverage — it must not raise a
    standing severity-80 stale_index naming every live corpus batch.
    The first provenance-carrying ingest makes the lag computable
    again (and any then-uncovered batch fires as before)."""
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import corpus

    croot = str(tmp_path / "corpus")
    vroot = str(tmp_path / "ann")

    def _docs(ids):
        return spark.createDataFrame(
            [(int(i), " ".join(f"w{i}x{j}q{(i * 7 + j * 13) % 997}"
                               for j in range(14)), "en", "s", 1)
             for i in ids],
            "doc_id LONG, text STRING, lang STRING, "
            "source STRING, n_chars LONG")

    corpus.ingest_delta(spark, croot, _docs(range(1, 31)),
                        batch_id="d1")
    # legacy ingest: NO corpus_batch provenance
    A.ann_ingest_delta(spark, vroot, emb.filter("vec_id < 40"), "v1")
    rep = ADV.suggest_maintenance(spark, vroot, corpus_root=croot)
    assert not [a for a in rep["actions"]
                if a["action"] == "stale_index"], rep["actions"]
    # a provenance-carrying ingest restores exact coverage math:
    # d1 is still uncovered (v1's coverage is unknowable) → fires
    corpus.ingest_delta(spark, croot, _docs(range(100, 110)),
                        batch_id="d2")
    A.ann_ingest_delta(spark, vroot,
                       emb.filter("vec_id >= 100 and vec_id < 110"),
                       "v2", corpus_batch="d2")
    rep = ADV.suggest_maintenance(spark, vroot, corpus_root=croot)
    acts = [a for a in rep["actions"] if a["action"] == "stale_index"]
    assert len(acts) == 1
    assert acts[0]["signal"]["unindexed_batches"] == ["d1"]
    assert "v1" in str(acts[0]["signal"]["unprovenanced_index_batches"])


def test_tune_tables_does_not_pool_different_k():
    """r15 ADVICE low: recall@5 and recall@10 are incomparable —
    samples measured at different k must not share one curve. Two
    table settings measured only at DIFFERENT ks stay quiet; the
    same measurements with a same-k pair price normally."""
    mixed = {"samples": [
        dict(_tt_sample(0, 2, 0.6031, 0.2891), k=5),
        dict(_tt_sample(1, 4, 0.8359, 0.5781), k=10),
    ]}
    assert ADV._tune_tables_action(mixed, recall_target=0.5) is None
    same_k = {"samples": [
        dict(_tt_sample(0, 2, 0.6031, 0.2891), k=5),
        dict(_tt_sample(1, 4, 0.8359, 0.5781), k=5),
        # a lone off-k sample rides along without poisoning the curve
        dict(_tt_sample(2, 8, 0.99, 0.9), k=10),
    ]}
    act = ADV._tune_tables_action(same_k, recall_target=0.5)
    assert act is not None
    assert act["signal"]["use"]["num_tables"] == 2
    assert act["signal"]["measured_best"]["num_tables"] == 4
