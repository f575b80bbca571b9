"""ONE ranked maintenance advisory per root — vector-index roots
(VERDICT r11 brief #4) AND corpus roots (r12 brief #4; the corpus
side has its own signals: ingest-ledger gate-drop skew, live-batch
fan-out, prunable superseded bytes, pin pricing —
:func:`_suggest_corpus`): the signals already exist — occupancy
canaries
(``verify_ann_index``/``verify_ivf_index``), the measured recall
history (``recall.recall_history``), the live-batch ledger
(small-files debt), and pin pricing (``snapshots.pins_report``) —
but an operator had to join four reports mentally to decide
compact-vs-migrate-vs-retrain-vs-release. :func:`suggest_maintenance`
folds them into one ranked action list, each action citing the
triggering signal, so "what should I run on this root today" is one
call (and an optional section of ``linkage.verify_deployment``).

Ranking is by severity class, highest first:

1. ``retrain_migrate`` — the recall canary series ends below its
   floor: probe QUALITY is decaying with no structural invariant
   violated; the fix is a re-trained structure
   (``migration.migrate_index(train_k=..., train_metric="dot")``),
   not a rewrite of the existing one.
2. ``compact_hot`` — cell/bucket occupancy skew past threshold
   (max > skew·median): a hot partition makes every probe touching
   it scan disproportionately; size-aware compaction
   (``compact_*_batches(rows_per_file=...)``) splits its files. If
   skew persists across compactions the distribution has shifted —
   escalate to ``retrain_migrate`` (the advisory says so).
3. ``compact_batches`` — live-batch count past threshold: per-batch
   directory fan-out is small-files debt; plain compaction folds it.
4. ``release_pins`` — pins flagged aged/over-budget by the pricing
   policy: superseded bytes held by forgotten snapshots.

Everything here is control-plane: the occupancy/ledger numbers come
from the root's own fsck (one aggregate scan), recall from committed
JSON samples, pins from the pricing report — nothing row-wise.
Thresholds are caller policy with engineering defaults; ``now`` is
injectable for deterministic tests (same convention as
``pins_report``)."""

from __future__ import annotations

from pyspark.sql import SparkSession

SEVERITY = {"retrain_migrate": 90, "stale_index": 80,
            "compact_hot": 70,
            "investigate_gates": 60, "compact_batches": 50,
            "prune_superseded": 40, "release_pins": 30,
            "tune_probes": 20, "tune_tables": 20}


def suggest_maintenance(spark: SparkSession, root: str,
                        occupancy_skew: float = 8.0,
                        max_live_batches: int = 32,
                        recall_floor: float | None = None,
                        max_pin_age_seconds: float | None = None,
                        max_pin_held_bytes: int | None = None,
                        now: float | None = None,
                        fsck: dict | None = None,
                        target_cell_rows: int | None = None,
                        recall_target: float | None = None,
                        corpus_root: str | None = None,
                        max_unindexed_batches: int = 0) -> dict:
    """The ranked maintenance advisory for one root — index OR
    corpus (kind-dispatched on the manifest/meta layout; corpus
    signals in :func:`_suggest_corpus` — r12 brief #4). ``root`` may
    be a pointer/alias. ``recall_floor`` re-grades the recall series
    against a caller floor (otherwise each sample's own recorded
    floor applies); the pin thresholds mirror ``pins_report``'s;
    ``target_cell_rows`` (r12 brief #5) makes the retrain advice
    size its k from the MEASURED occupancy against that posting-scan
    budget (:func:`kmeans.suggest_k_feedback`) instead of √N.
    ``recall_target`` (r15) sets the recall bar the ``tune_tables``
    pricing answers to (default: 0.95× the best measured sample);
    ``corpus_root`` (r15) enables the ``stale_index`` freshness check
    against that corpus' live batches, with ``max_unindexed_batches``
    the tolerated lag (default 0: any uncovered batch fires).
    Returns::

        {"root", "kind", "actions": [
            {"action", "severity", "reason", "signal": {...}}, ...],
         "fsck_violations": [...]}

    ``actions`` is sorted most-severe first; an empty list means the
    root needs nothing. Structural fsck violations are surfaced
    verbatim under ``fsck_violations`` — they are damage, not
    maintenance, and ``verify_deployment`` already alarms on them.

    ``fsck`` accepts an ALREADY-COMPUTED kind-matched fsck report
    (ADVICE r12): ``verify_deployment(advise=True)`` just ran the
    same ``verify_ann_index``/``verify_ivf_index`` aggregate scan —
    passing it in makes advise=True add only the recall/pin reads
    instead of doubling the scan cost on large roots. When given, it
    must be the report of THIS root's current fsck (the caller's
    responsibility — there is no cheap way to re-verify that without
    re-running the scan this parameter exists to avoid)."""
    from ..fs import path_exists
    from .ann_index import verify_ann_index
    from .ivf_index import verify_ivf_index
    from .linkage import _index_kind
    from .migration import resolve_corpus_root, resolve_index_root
    from .recall import recall_history

    # kind dispatch (r12 brief #4): corpus roots — manifest protocol
    # but no _meta.json — get the corpus advisory; anything that is
    # neither stays loud via _index_kind below
    resolved = resolve_index_root(spark, root, strict=False)
    if not path_exists(spark, f"{resolved}/_meta.json"):
        from .batches import MANIFEST_DIR
        croot = resolve_corpus_root(spark, root, strict=False)
        if path_exists(spark, f"{croot}/{MANIFEST_DIR}"):
            return _suggest_corpus(
                spark, croot, fsck=fsck,
                max_live_batches=max_live_batches,
                max_pin_age_seconds=max_pin_age_seconds,
                max_pin_held_bytes=max_pin_held_bytes, now=now)
    root = resolved
    kind = _index_kind(spark, root)
    if kind == "ann_lsh_incremental":
        if fsck is None:
            fsck = verify_ann_index(spark, root)
        occ = fsck["bucket_occupancy"]
        hot_key, hot = "hottest_bucket", occ.get("hottest_bucket")
        compact_call = ("compact_ann_batches(root, "
                        "rows_per_file=...)")
    else:
        if fsck is None:
            fsck = verify_ivf_index(spark, root)
        occ = fsck["cell_occupancy"]
        hot_key, hot = "hottest_cell", occ.get("hottest_cell")
        compact_call = ("compact_ivf_batches(root, "
                        "rows_per_file=...)")

    actions: list[dict] = []

    # 1. quality decay → re-train the routing structure. The series
    # is ordered by each sample's monotonic recording seq (ADVICE
    # r12 — batch ids sort lexicographically: 'f10' < 'f9'), so
    # [-1] IS the newest sample, not the lexicographically last id.
    hist = recall_history(spark, root, floor=recall_floor)
    # carried samples (migrated_from — migration provenance) graded
    # the REPLACED structure: the retrain trigger reads the newest
    # sample measured against THIS root (recall.py's below_floor
    # exclusion, same rationale)
    own = [s for s in hist["samples"] if "migrated_from" not in s]
    if own and own[-1].get("below_floor"):
        last = own[-1]
        # the retrain advice NAMES its k (r12 brief #5): from the
        # fsck's MEASURED occupancy when a posting-scan budget is
        # configured (suggest_k_feedback — the closed loop), else
        # the √N convention over the measured row count
        k_sugg = None
        if kind == "ivf_incremental" and fsck.get("index_rows"):
            from .kmeans import suggest_k, suggest_k_feedback
            k_sugg = (suggest_k_feedback(fsck["index_rows"], occ,
                                         target_cell_rows)
                      if target_cell_rows
                      else suggest_k(fsck["index_rows"]))
        k_txt = (f"train_k={k_sugg}" if k_sugg is not None
                 else "train_k=...")
        actions.append({
            "action": "retrain_migrate",
            "severity": SEVERITY["retrain_migrate"],
            "reason": (
                f"recall canary ended below floor: recall@"
                f"{last['k']} {last['recall']} < {last['floor']} at "
                f"batch {last['batch_id']} "
                f"({len(hist['below_floor'])} below-floor sample(s))"
                f" — the frozen structure no longer routes the "
                f"current distribution; run migration.migrate_index("
                f"{k_txt}, train_metric='dot') and cut over"),
            "signal": {"recall": last,
                       "below_floor": hist["below_floor"],
                       **({"suggested_k": k_sugg}
                          if k_sugg is not None else {})}})

    # 2. occupancy skew → size-aware compaction (split the hot files)
    med = occ.get("median") or 0
    if med and occ.get("max", 0) > occupancy_skew * med \
            and not _hot_suppressed(spark, root, kind, hot,
                                    occ.get("max", 0)):
        actions.append({
            "action": "compact_hot",
            "severity": SEVERITY["compact_hot"],
            "reason": (
                f"occupancy skew: max {occ['max']} rows vs median "
                f"{med} (> {occupancy_skew}×) in {hot_key}={hot} — "
                f"run {compact_call} to split the hot partition's "
                f"files; skew that returns after compaction means "
                f"the distribution shifted: escalate to "
                f"retrain_migrate"),
            "signal": {"occupancy": occ,
                       "threshold": occupancy_skew}})

    # 3. live-batch fan-out → plain compaction
    n_live = fsck["live_batches"]
    if n_live > max_live_batches:
        actions.append({
            "action": "compact_batches",
            "severity": SEVERITY["compact_batches"],
            "reason": (
                f"{n_live} live batches (> {max_live_batches}) — "
                f"per-batch directory fan-out is small-files debt on "
                f"every probe's listing; fold them "
                f"({compact_call.split('(')[0]})"),
            "signal": {"live_batches": n_live,
                       "threshold": max_live_batches}})

    # 4. pin hoarding → release the flagged holds
    pin_act = _pins_action(spark, root, max_pin_age_seconds,
                           max_pin_held_bytes, now)
    if pin_act is not None:
        actions.append(pin_act)

    # 5. probe economics (r13 VERDICT #8, stretch): the operator's
    # FAN-OUT knobs, advised from the same committed recall series
    # plus the cellstats box geometry
    tune = _tune_probes_action(spark, root, kind, hist)
    if tune is not None:
        actions.append(tune)

    # 6. table economics (r15 brief #3): the multi-table knob L
    # multiplies storage and ingest by L — price it from the same
    # committed series once samples span ≥ 2 table settings
    tables = _tune_tables_action(hist, recall_target)
    if tables is not None:
        actions.append(tables)

    # 7. index freshness vs the corpus (r15 brief #9): the one
    # operational blind spot — the corpus keeps committing batches
    # the index never ingested, and nothing said so until a recall
    # sample happened to notice
    if corpus_root is not None:
        stale = _stale_index_action(spark, corpus_root, root,
                                    max_unindexed_batches)
        if stale is not None:
            actions.append(stale)

    actions.sort(key=lambda a: (-a["severity"], a["action"]))
    return {"root": root, "kind": kind, "actions": actions,
            "fsck_violations": list(fsck["violations"])}


def _tune_probes_action(spark, root: str, kind: str, hist: dict,
                        saturation: float = 0.98,
                        tight_width: float = 0.25) -> "dict | None":
    """PROBE-ECONOMICS advisory (r13 VERDICT #8): the maintenance
    actions above price storage; this one prices FAN-OUT. Two
    signals, both control-plane:

    - **recall saturation**: group the committed recall series by
      its recorded probe knob (``nprobe=``/``hamming=``/
      ``probe_buckets=``), newest sample per setting (by ``seq``).
      With ≥ 2 settings measured, if the SMALLEST fan-out whose
      recall is within ``saturation`` of the best measured recall is
      below the largest measured fan-out, every probe above it scans
      rows that buy nothing — advise dropping to it.
    - **box tightness**: the cellstats direction boxes' mean
      component width. Tight boxes (≤ ``tight_width`` — the
      clustered regime) mean the zero-cost BOX early exit will
      actually prune — advise ``early_exit=True``.

    Emitted as ONE low-severity ``tune_probes`` action ONLY when the
    recall series proves saturation — the box tip rides along with
    that evidence, never alone: every index over clustered data has
    tight boxes, and an advisory that flags every healthy root is
    noise (the suite's "healthy root needs nothing" contract). None
    when the curve still climbs or fewer than two settings were
    measured — fan-out is (or may be) buying recall."""
    tips, signal = [], {}
    by_param: dict = {}
    for s in hist.get("samples", ()):
        p = s.get("param") or {}
        if len(p) == 1:
            (knob, val), = p.items()
            by_param[(knob, int(val))] = s   # seq-ordered: last wins
    knobs = {k for k, _ in by_param}
    for knob in sorted(knobs):
        series = sorted(((v, by_param[(knob, v)]["recall"])
                         for kk, v in by_param if kk == knob))
        if len(series) < 2:
            continue
        best = max(r for _, r in series)
        if best <= 0:
            continue
        sat = next((v for v, r in series if r >= saturation * best),
                   None)
        if sat is not None and sat < series[-1][0]:
            top_v, top_r = series[-1]
            sat_r = dict(series)[sat]
            tips.append(
                f"recall saturates at {knob}={sat} (recall@10 "
                f"{sat_r} vs {top_r} at {knob}={top_v}) — probes "
                f"above {knob}={sat} scan rows that buy no recall; "
                f"drop the fan-out")
            signal.setdefault("saturated", {})[knob] = {
                "use": sat, "measured_best": top_v,
                "recall_at_use": sat_r, "recall_at_best": top_r}
    if not tips:
        return None   # no measured saturation → no fan-out advice
    from .cellstats import bounds_frame, load_stats
    stats = load_stats(spark, root)
    mean_w = None
    if stats and stats.get("keys"):
        widths = [sum(hi - lo for lo, hi in zip(e["dmin"], e["dmax"]))
                  / max(1, len(e["dmin"]))
                  for e in stats["keys"].values()]
        mean_w = sum(widths) / len(widths)
    elif stats and stats.get("format") == "parquet":
        # key count past the JSON threshold: ONE tiny aggregate over
        # the box table instead of a driver materialization
        from pyspark.sql import functions as F
        row = (bounds_frame(spark, stats, "key", None)
               .select((F.aggregate(
                   F.zip_with("dmax", "dmin", lambda a, b: a - b),
                   F.lit(0.0), lambda acc, x: acc + x)
                   / F.greatest(F.lit(1), F.size("dmin")))
                   .alias("w"))
               .agg(F.avg("w").alias("mw")).head())
        mean_w = float(row.mw) if row and row.mw is not None else None
    if mean_w is not None:
        signal["box_mean_width"] = round(mean_w, 4)
        if mean_w <= tight_width:
            tips.append(
                f"direction boxes are tight (mean component width "
                f"{mean_w:.3f} ≤ {tight_width}) — the zero-cost box "
                f"bound will prune separated {'cells' if kind == 'ivf_incremental' else 'buckets'}: "
                f"pass early_exit=True on probes")
            signal["early_exit"] = True
    if not tips:
        return None
    return {"action": "tune_probes",
            "severity": SEVERITY["tune_probes"],
            "reason": "; ".join(tips),
            "signal": signal}


def _stale_index_action(spark, corpus_root: str, index_root: str,
                        max_unindexed_batches: int = 0
                        ) -> "dict | None":
    """INDEX-FRESHNESS advisory (r15 brief #9): the streaming
    ingestion path keeps committing corpus batches; an index that
    stopped ingesting silently serves an ever-older view — the one
    operational blind spot the advisory stack had (recall canaries
    grade the index against ITS OWN vectors, so they cannot see
    corpus-side growth). Staleness is PROVENANCE-based, not
    clock-based: every index manifest records the ``corpus_batch``
    id(s) it ingested (compaction unions them), so the lag is the
    set of LIVE corpus batches no live index batch covers — exact
    under compaction/retention on either side, and immune to clock
    skew. Fires when that set exceeds ``max_unindexed_batches``
    (default 0: any uncovered batch), naming the most recently
    committed uncovered corpus batch (manifest mtime) and the
    index's newest covered one. Quiet on a fresh index; index
    batches with NO recorded provenance make coverage unknowable —
    said in the reason rather than guessed."""
    from ..fs import file_mtime_ms
    from . import batches as B
    from .migration import resolve_corpus_root

    corpus_root = resolve_corpus_root(spark, corpus_root,
                                      strict=False)
    cms = B.load_manifests(spark, corpus_root)
    corpus_live = B.live(cms)
    if not corpus_live:
        return None
    vms = B.load_manifests(spark, index_root)
    vec_live = B.live(vms)
    covered: set = set()
    unprovenanced = []
    for b in vec_live:
        v = vms[b].get("corpus_batch")
        provs = v if isinstance(v, list) else [v] if v is not None \
            else []
        if provs:
            covered.update(provs)
        else:
            unprovenanced.append(b)
    if vec_live and not covered:
        # EVERY live index batch predates corpus_batch provenance:
        # coverage is UNKNOWABLE, not zero — a legacy deployment
        # whose ingests never passed the optional argument would
        # otherwise raise a severity-80 standing false positive
        # naming every live corpus batch (r15 ADVICE low). Silence
        # is the honest answer; the first provenance-carrying
        # ingest makes the lag computable again.
        return None
    uncovered = [b for b in corpus_live if b not in covered]
    if len(uncovered) <= max_unindexed_batches:
        return None

    def _mt(b):
        try:
            return file_mtime_ms(spark, B.manifest_path(corpus_root,
                                                       b))
        except Exception:
            return -1

    newest = max(uncovered, key=_mt)
    cov_live = [b for b in corpus_live if b in covered]
    last_ingested = max(cov_live, key=_mt) if cov_live else None
    reason = (
        f"index is behind the corpus: {len(uncovered)} live corpus "
        f"batch(es) have no covering index ingest (newest: "
        f"'{newest}'; index's last ingested corpus batch: "
        f"{'none' if last_ingested is None else repr(last_ingested)})"
        f" — ingest the lagging batches (ann_ingest_delta/"
        f"ivf_ingest_delta with corpus_batch=...)")
    if unprovenanced:
        reason += (f"; note: index batches {unprovenanced[:4]} record"
                   f" no corpus_batch provenance — their coverage is "
                   f"unknowable and counted as none")
    return {"action": "stale_index",
            "severity": SEVERITY["stale_index"],
            "reason": reason,
            "signal": {"corpus_root": corpus_root,
                       "unindexed_batches": uncovered,
                       "newest_unindexed": newest,
                       "last_ingested": last_ingested,
                       "unprovenanced_index_batches": unprovenanced}}


def _tune_tables_action(hist: dict,
                        recall_target: "float | None" = None,
                        near_best: float = 0.95) -> "dict | None":
    """TABLE-ECONOMICS advisory (r15 brief #3): ``num_tables=L``
    multiplies storage and ingest work by L, and nothing priced
    WHICH L until now. Committed recall samples carry ``num_tables``
    + ``scan_frac`` (plans/recall.measure_recall, r15) — a root that
    has been MIGRATED between table settings (or graded before and
    after one) therefore holds a cross-L curve, and this action
    names the CHEAPEST measured (L, fan-out) meeting the target:

    - target = ``recall_target`` when the operator states one, else
      ``near_best`` × the best measured recall (the default asks
      "what is the cheapest setting that is practically as good as
      the best we ever measured?");
    - cost order = (scan_frac, num_tables): scan rows are the probe
      wall, tables the storage/ingest multiplier;
    - QUIET unless ≥ 2 distinct table settings are measured (one L
      proves nothing about the knob) AND a config with FEWER tables
      than the most measured meets the target — if only the largest
      L reaches it, its storage is buying recall and silence is the
      honest answer. Advice-only, like ``tune_probes``."""
    by_k: dict = {}
    for s in hist.get("samples", ()):
        # skip malformed samples wholesale (r16 ADVICE low: a legacy
        # or foreign-writer sample missing "k" must not KeyError the
        # whole report — same policy as the other field guards)
        if "num_tables" not in s or "scan_frac" not in s \
                or "k" not in s:
            continue
        p = s.get("param") or {}
        if len(p) != 1:
            continue
        (knob, val), = p.items()
        # k is part of the config identity (r15 ADVICE low): recall@5
        # and recall@10 are incomparable metrics — pooling them would
        # price one table setting's recall@5 against another's
        # recall@10. Samples group by k; only same-k curves compare.
        # seq-ordered history: last sample per (k, config) wins
        by_k.setdefault(int(s["k"]), {})[
            (int(s["num_tables"]), knob, int(val))] = s
    # the curve to price: the k with the most measured DISTINCT
    # configs carrying ≥ 2 table settings (ties → the larger k —
    # deterministic; r16 ADVICE low: the comment used to promise a
    # most-samples tiebreak the tuple never implemented)
    candidates = [(len(cfgs), k) for k, cfgs in by_k.items()
                  if len({L for L, _, _ in cfgs}) >= 2]
    if not candidates:
        return None
    _, use_k = max(candidates)
    by_cfg = by_k[use_k]
    tables_seen = {L for L, _, _ in by_cfg}
    if len(tables_seen) < 2:
        return None
    best = max(s["recall"] for s in by_cfg.values())
    if best <= 0:
        return None
    target = recall_target if recall_target is not None \
        else round(near_best * best, 4)
    eligible = {cfg: s for cfg, s in by_cfg.items()
                if s["recall"] >= target}
    if not eligible:
        return None
    cheapest_cfg = min(
        eligible, key=lambda c: (eligible[c]["scan_frac"], c[0]))
    max_l = max(tables_seen)
    use_l, use_knob, use_val = cheapest_cfg
    if use_l >= max_l:
        return None   # the biggest table count is earning its keep
    use = eligible[cheapest_cfg]
    # the best-recall config at the LARGEST measured L, for the
    # price comparison in the reason text
    big_cfg = max(((c, s) for c, s in by_cfg.items()
                   if c[0] == max_l),
                  key=lambda cs: cs[1]["recall"])
    big_l, big_knob, big_val = big_cfg[0]
    big = big_cfg[1]
    return {
        "action": "tune_tables",
        "severity": SEVERITY["tune_tables"],
        "reason": (
            f"num_tables={use_l} at {use_knob}={use_val} reaches "
            f"recall@{use['k']} {use['recall']} at scan_frac "
            f"{use['scan_frac']} — meeting the target {target}; "
            f"num_tables={big_l}'s extra {max_l / use_l:g}× storage "
            f"buys {round(big['recall'] - use['recall'], 4)} recall "
            f"at {round(big['scan_frac'] / max(use['scan_frac'], 1e-9), 2)}× "
            f"scan ({big_knob}={big_val}: {big['recall']} at "
            f"{big['scan_frac']}); drop to num_tables={use_l}"),
        "signal": {
            "target": target,
            "use": {"num_tables": use_l, use_knob: use_val,
                    "recall": use["recall"],
                    "scan_frac": use["scan_frac"]},
            "measured_best": {"num_tables": big_l, big_knob: big_val,
                              "recall": big["recall"],
                              "scan_frac": big["scan_frac"]}}}


def _hot_suppressed(spark, root: str, kind: str, hot,
                    max_rows: int) -> bool:
    """compact_hot LOOP-BREAKER (r12 brief #8): once a size-aware
    compaction has split the hot partition down to its RECORDED
    ``rows_per_file`` target (the compact manifest carries it),
    re-advising compact_hot would ping-pong forever — the residual
    ROW skew is the data's shape, not a file-layout problem (the
    action's own reason text already tells operators that skew
    returning after compaction means the distribution shifted).
    Suppressed iff a live size-aware compact manifest exists AND the
    hot partition's average rows/file is within the newest recorded
    target. Control-plane: manifests + one directory listing of the
    hot partition per live batch."""
    from ..fs import list_dir
    from . import batches as B

    if hot is None:
        return False
    import re

    ms = B.load_manifests(spark, root)
    live = B.live(ms)
    # the NEWEST recorded target by the compaction's own monotonic
    # sequence number (ids are minted by batches.next_seq_id as
    # zero-padded compact-NNNNNN, so numeric order is explicit here
    # rather than trusted to lexicographic sort — the 'f10' < 'f9'
    # recency trap, ADVICE r13); a size-aware manifest whose id
    # doesn't parse (impossible today — only next_seq_id mints
    # rows_per_file-bearing compactions) orders before all parsed
    sized = sorted(
        ((int(m.group(1)) if (m := re.match(r"^compact-(\d{6})$", b))
          else -1), ms[b]["rows_per_file"])
        for b in live if ms[b].get("rows_per_file"))
    if not sized:
        return False
    target = sized[-1][1]
    table, key = (("buckets", "bucket")
                  if kind == "ann_lsh_incremental"
                  else ("postings", "cell"))
    n_files = sum(
        1 for b in live
        for f in list_dir(spark,
                          f"{root}/{table}/batch_id={b}/{key}={hot}")
        if f.endswith(".parquet"))
    return n_files > 0 and max_rows / n_files <= target


NONDESTRUCTIVE = ("compact_hot", "compact_batches",
                  "prune_superseded")


def apply_maintenance(spark: SparkSession, root: str,
                      rows_per_file: int = 1 << 20,
                      dry_run: bool = False,
                      **thresholds) -> dict:
    """ADVISORY-DRIVEN runbook automation (r12 brief #8, stretch):
    run :func:`suggest_maintenance` and EXECUTE the non-destructive
    actions — ``compact_hot`` (size-aware compaction at
    ``rows_per_file``), ``compact_batches`` (plain fold), and the
    corpus side's ``prune_superseded`` (sweeping INVISIBLE garbage
    only). Each executed step takes the root's writer lease through
    the operation it calls, exactly as a human running the advised
    command would. ``retrain_migrate``, ``release_pins`` and
    ``investigate_gates`` are judgement calls and stay
    operator-approved — reported under ``skipped``.

    When both compaction actions fire, ONE size-aware compaction
    serves both (a plain fold immediately after a size-aware one
    would undo the file split).

    ``dry_run=True`` reports the plan and touches nothing.
    ``thresholds`` pass through to :func:`suggest_maintenance`.
    Returns ``{"root", "kind", "advice_before", "applied":
    [{"action", "result"}...], "skipped": [{"action", "why"}...],
    "advice_after"}`` — on a healed root ``advice_after["actions"]``
    reads empty (test-pinned e2e)."""
    before = suggest_maintenance(spark, root, **thresholds)
    kind = before["kind"]
    root = before["root"]
    applied: list[dict] = []
    skipped: list[dict] = []
    names = [a["action"] for a in before["actions"]]
    compacted = False
    for act in before["actions"]:
        name = act["action"]
        if name in ("tune_probes", "tune_tables"):
            # a probe/table-knob recommendation, not a root mutation
            # — there is nothing to "apply" here; callers change
            # their own probe arguments (tables via migrate_index)
            skipped.append({"action": name,
                            "why": "advice-only (caller-side knobs)"})
            continue
        if name not in NONDESTRUCTIVE:
            skipped.append({"action": name,
                            "why": "operator-approved only"})
            continue
        if dry_run:
            applied.append({"action": name, "result": "dry-run"})
            continue
        if name in ("compact_hot", "compact_batches"):
            if compacted:
                applied.append({"action": name,
                                "result": "folded into the "
                                          "size-aware compaction"})
                continue
            sized = "compact_hot" in names
            rpf = rows_per_file if sized else None
            if kind == "ann_lsh_incremental":
                from .ann_index import compact_ann_batches
                cid = compact_ann_batches(spark, root,
                                          rows_per_file=rpf)
            elif kind == "ivf_incremental":
                from .ivf_index import compact_ivf_batches
                cid = compact_ivf_batches(spark, root,
                                          rows_per_file=rpf)
            else:
                from .corpus import compact_batches
                cid = compact_batches(spark, root)
            compacted = True
            applied.append({"action": name, "result": cid})
        elif name == "prune_superseded":
            from .corpus import prune_superseded, prune_uncommitted
            swept = sorted(set(prune_superseded(spark, root))
                           | set(prune_uncommitted(spark, root)))
            applied.append({"action": name, "result": swept})
    after = (before if dry_run
             else suggest_maintenance(spark, root, **thresholds))
    return {"root": root, "kind": kind, "advice_before": before,
            "applied": applied, "skipped": skipped,
            "advice_after": after}


def _pins_action(spark, root, max_pin_age_seconds,
                 max_pin_held_bytes, now) -> "dict | None":
    """The release_pins action (or None) — identical policy and
    pricing for index and corpus roots (snapshots.pins_report is
    root-generic)."""
    from .snapshots import pins_report

    prep = pins_report(spark, root,
                       max_age_seconds=max_pin_age_seconds,
                       max_held_bytes=max_pin_held_bytes, now=now)
    if not prep["flagged_pins"]:
        return None
    flagged = {d: {"flags": prep["pins"][d]["flags"],
                   "age_seconds": prep["pins"][d]["age_seconds"],
                   "held_bytes": prep["pins"][d]["held_bytes"]}
               for d in prep["flagged_pins"]}
    total = sum(v["held_bytes"] for v in flagged.values())
    return {
        "action": "release_pins",
        "severity": SEVERITY["release_pins"],
        "reason": (
            f"pins {sorted(flagged)} break the lifecycle policy "
            f"(holding {total} superseded bytes) — "
            f"release_pin(...) the forgotten holds, then the "
            f"next prune reclaims the batches"),
        "signal": {"flagged": flagged}}


def _suggest_corpus(spark: SparkSession, root: str,
                    fsck: dict | None,
                    max_live_batches: int,
                    max_pin_age_seconds: float | None,
                    max_pin_held_bytes: int | None,
                    now: float | None,
                    gate_skew: float = 3.0,
                    min_gate_dropped: int = 10,
                    min_gate_ratio: float = 0.05) -> dict:
    """The CORPUS-root advisory (VERDICT r12 brief #4 — the side
    ``verify_deployment(advise=True)`` was one-eyed on). Signals, all
    committed control-plane state:

    - **investigate_gates** (60): one live ingest batch's
      passage-gate drop ratio (``n_passage_dropped/n_gated`` from
      its manifest — the ingest ledger) is ≥ ``gate_skew``× the
      median ratio AND above the absolute floor — either an upstream
      content shift (boilerplate flood) or a poisoned/hot
      fingerprint family; a human should look before the gate eats
      real data. Order-free (max vs median), so opaque batch ids
      need no recency.
    - **compact_batches** (50): live-batch fan-out past threshold —
      ``corpus.compact_batches`` folds it (same debt as the index
      side; every scan lists per-batch directories).
    - **prune_superseded** (40): superseded/unmanifested partitions
      still on disk (the fsck's ``orphans``), PRICED in bytes — run
      ``corpus.prune_superseded`` / ``prune_uncommitted``.
    - **release_pins** (30): the shared pin-pricing policy.
    """
    import statistics

    from ..fs import dir_bytes, path_exists
    from . import batches as B
    from .corpus import INGEST_TABLES, verify_corpus

    if fsck is None:
        fsck = verify_corpus(spark, root)
    actions: list[dict] = []

    ms = B.load_manifests(spark, root)
    ingest_live = [b for b in B.live(ms)
                   if not b.startswith(("compact-", "retain-"))]
    ratios = {b: ms[b]["n_passage_dropped"] / ms[b]["n_gated"]
              for b in ingest_live
              if ms[b].get("n_gated")
              and "n_passage_dropped" in ms[b]}
    if len(ratios) >= 2:
        med = statistics.median(ratios.values())
        hot_b = max(ratios, key=lambda b: (ratios[b], b))
        hot_r = ratios[hot_b]
        if (hot_r >= gate_skew * med and hot_r >= min_gate_ratio
                and ms[hot_b]["n_passage_dropped"]
                >= min_gate_dropped):
            actions.append({
                "action": "investigate_gates",
                "severity": SEVERITY["investigate_gates"],
                "reason": (
                    f"passage gate dropped "
                    f"{ms[hot_b]['n_passage_dropped']} of "
                    f"{ms[hot_b]['n_gated']} gated docs in batch "
                    f"{hot_b} ({hot_r:.1%} vs median {med:.1%}) — "
                    f"an upstream boilerplate flood or a hot "
                    f"fingerprint family; inspect the batch before "
                    f"the gate eats real data"),
                "signal": {"batch_id": hot_b, "ratio": round(hot_r, 4),
                           "median_ratio": round(med, 4),
                           "threshold": gate_skew}})

    n_live = fsck["live_batches"]
    if n_live > max_live_batches:
        actions.append({
            "action": "compact_batches",
            "severity": SEVERITY["compact_batches"],
            "reason": (
                f"{n_live} live batches (> {max_live_batches}) — "
                f"per-batch directory fan-out is small-files debt on "
                f"every corpus scan's listing; fold them "
                f"(corpus.compact_batches)"),
            "signal": {"live_batches": n_live,
                       "threshold": max_live_batches}})

    orphans = fsck.get("orphans") or []
    if orphans:
        held = 0
        for b in orphans:
            for table in INGEST_TABLES:
                p = f"{root}/{table}/batch_id={b}"
                if path_exists(spark, p):
                    held += dir_bytes(spark, p)
        actions.append({
            "action": "prune_superseded",
            "severity": SEVERITY["prune_superseded"],
            "reason": (
                f"{len(orphans)} superseded/unmanifested batch "
                f"partitions still on disk holding {held} prunable "
                f"bytes — run corpus.prune_superseded (and "
                f"prune_uncommitted for crashed ingests)"),
            "signal": {"orphans": list(orphans),
                       "prunable_bytes": held}})

    pin_act = _pins_action(spark, root, max_pin_age_seconds,
                           max_pin_held_bytes, now)
    if pin_act is not None:
        actions.append(pin_act)

    actions.sort(key=lambda a: (-a["severity"], a["action"]))
    return {"root": root, "kind": "corpus", "actions": actions,
            "fsck_violations": list(fsck["violations"])}
