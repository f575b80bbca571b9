"""Per-cell / per-bucket DIRECTION-BOX statistics for probe-time
early exit (VERDICT r12 brief #1): after the int8 byte cut, the
dominant 100 TB probe cost is still "scan every posting row of every
probed cell before the top-k fold". The classic inverted-list answer
is an UPPER BOUND per posting list — skip lists whose best-possible
score cannot beat the running kth candidate.

The bound this module maintains is a component-wise box around the
stored vectors' DIRECTIONS: for every cell (IVF) or bucket (LSH),
``dmin[i] ≤ u[i] ≤ dmax[i]`` over all members, where ``u = v/‖v‖``
is the unit direction of the STORED scoring payload — the int8 code
(int8 roots) or the fixed-point nano components (float roots). The
probes score exactly ``cos(q, v) = q·u / ‖q‖`` (plans/codes.
code_cosine, postings.scores), so for every member of a
cell::

    cos(q, v)  =  Σ_i q_i·u_i / ‖q‖
              ≤  Σ_i max(q_i·dmin_i, q_i·dmax_i) / ‖q‖   (the box)

Each stored bound is widened by ``EPS_COMPONENT`` and each evaluated
bound by ``EPS_BOUND`` — orders of magnitude above the double
rounding of the 64-term folds and of the probes' own round(·, 9), so
float noise can never flip "provably below the kth" into a wrongly
skipped true neighbor: pruning by this bound loses NOTHING
(tests/test_early_exit.py pins early-exit ≡ full-scan row-for-row).

Lifecycle — WIDEN-ONLY between compactions, which keeps every
mutation sound:

- **ingest** folds the delta's per-key boxes into
  ``{root}/_cellstats.json`` BEFORE the manifest commit: a crash
  between the two leaves boxes covering rows that never committed —
  a SUPERSET, still a valid upper bound, merely looser.
- **retention / batch delete** leave the boxes untouched: the
  surviving rows are a subset of what the boxes covered.
- **compaction** RECOMPUTES the boxes exactly from the live scan it
  just rewrote — the re-tightening pass that also upgrades legacy
  (pre-stats) roots.
- a root that predates this module simply has no stats file:
  ingests into it deliberately do NOT start a partial box (it would
  exclude the older committed rows — unsound); the first compaction
  creates the file.

The file is driver-sized control plane by construction: IVF cells
are "driver-sized by IVF construction" (plans/ivf_index.py), LSH
buckets are ≤ 2^J (J = 8 by default). ~64-dim boxes at tens of
thousands of keys would argue for a parquet sidecar; at the contract
sizes JSON + ``write_text_atomic`` keeps the commit story one PUT.

The reference rebuilds its whole search structure per run and scans
it fully (operators/similarity.write_ivf_index cites it); list-level
upper-bound pruning is the standard production refinement of that
scan, stacked on the r12 int8 compression.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fs import path_exists, read_text, write_text_atomic

STATS_NAME = "_cellstats.json"
# parquet escape hatch (r13 VERDICT #6): above this many keys the
# boxes move out of the driver-sized JSON into a parquet sidecar —
# the JSON stub stays the atomic commit pointer
STATS_DATA_DIR = "_cellstats_data"
STATS_PARQUET_THRESHOLD = 4096
BOX_SCHEMA = ("key BIGINT, dmin ARRAY<DOUBLE>, dmax ARRAY<DOUBLE>, "
              "n BIGINT, nz BIGINT")
# per-component widening of the stored box (the direction fold is
# ≤ 64 exactly-derived doubles — relative error ~1e-14; 1e-9 is a
# 10^5 safety factor and costs no measurable pruning power)
EPS_COMPONENT = 1e-9
# final slack on every evaluated bound: also absorbs the probes'
# round(cosine, 9) (a rounded score sits ≤ 5e-10 above the true one)
EPS_BOUND = 1e-6


def _stats_path(root: str) -> str:
    return f"{root}/{STATS_NAME}"


def normalize_mode(early_exit) -> "str | None":
    """The probes' shared ``early_exit`` knob → internal mode:
    False → None (off), True/"box" → "box" (zero-job box floor,
    never slower than plain — the r14 default), "seed" → the r13
    two-phase measured threshold (maximal pruning; pays only under
    constrained task slots), "seed2" → seed plus ONE iterative
    re-tightening round (r13 VERDICT #7): the BATCH probes score the
    rank-2 band against the seed threshold, re-measure each query's
    m-th, and prune the remaining bands against the strictly-tighter
    value — single-query probes treat it as "seed" (their threshold
    already comes from the best cell's true top-m; the batch shape
    is where band-at-a-time tightening has bands to spend)."""
    if early_exit is False or early_exit is None:
        return None
    if early_exit is True or early_exit == "box":
        return "box"
    if early_exit in ("seed", "seed2"):
        return early_exit
    raise ValueError(
        f"early_exit must be False, True, 'box', 'seed' or 'seed2', "
        f"got {early_exit!r}")


def _direction(payload: Column) -> Column:
    """ARRAY<DOUBLE> unit direction of an integer payload array
    (int8 codes or nano-unit fixed-point components): exact int64
    norm fold, one sqrt, one divide per component — deterministic on
    every executor (the same exactly-derived-doubles discipline as
    plans/codes.code_cosine). An all-zero payload (legal: a zero
    embedding's code) maps to the zero direction, whose box
    contribution is 0 — matching its NULL/0 cosine, which never
    ranks."""
    # DOUBLE norm fold: nano components reach ~2^33, so the exact
    # int64 square would overflow (the probes use the hi/lo split
    # for this — queries/similarity._fixed_dot); the direction is a
    # double either way and EPS_COMPONENT dominates the fold's
    # ~1e-14 relative error by five orders of magnitude
    nsq = F.aggregate(
        F.transform(payload, lambda x: x.cast("double")
                    * x.cast("double")),
        F.lit(0.0), lambda acc, p: acc + p)
    nrm = F.sqrt(nsq)
    return F.transform(
        payload,
        lambda x: F.when(nsq == 0, F.lit(0.0))
        .otherwise(x.cast("double") / nrm))


def payload_column(storage: str) -> "tuple[str, Column]":
    """(payload kind, payload Column over a stored posting row) for
    a root's storage — the SAME integers the probe's cosine folds,
    so the box bounds exactly the scored value:

    - ``int8``  → kind "code": the stored code array;
    - ``float`` → kind "nano": the fixed-point decode of the stored
      embedding (operators.similarity._fixed_point — what
      ``postings.scores`` score)."""
    if storage == "int8":
        return "code", F.col("code")
    from ..operators.similarity import _fixed_point
    return "nano", _fixed_point(F.col("embedding"))


def _delta_bounds(delta: DataFrame, key_col: str, payload: Column,
                  dim: int) -> dict:
    """{key: {"dmin": [...], "dmax": [...], "n": int}} over one
    frame — ONE Arrow-batched ``mapInPandas`` pass that normalizes
    the integer payloads and folds per-key component boxes in numpy
    (vectorized), emitting ≤ |keys| rows per PARTITION which a
    driver fold merges; bounds widened by EPS_COMPONENT at
    collection.

    Why not a groupBy with 2×dim ``min(element_at(…))`` aggregates
    (the r13 shape): higher-order functions (``transform``/
    ``aggregate``) are never whole-stage-codegen'd — Spark evaluates
    their lambdas INTERPRETED — and the 128-expression aggregate
    costs ~0.5 s of plan analysis/codegen per call on top, so the
    widen hook taxed EVERY ingest ~0.7–3.5 s (the r13 ``weak`` mark:
    builder sf1 ivf_ingest 2.43 → 5.89 s). The numpy fold does the
    identical IEEE-double arithmetic ~7× faster end-to-end (measured
    EE_COSTMODEL_r14.json: 0.4–0.55 s vs 1.0–3.1 s), and any
    summation-order difference (numpy pairwise vs JVM sequential
    fold, ≤ ~1e-15 relative) is absorbed by EPS_COMPONENT's 1e-9
    widening — six orders of magnitude of slack, so the stored box
    still covers every direction ``verify_stats`` re-derives JVM-side
    (bit-parity pinned in tests/test_early_exit.py).

    The driver fold sees ≤ partitions × |keys| rows (per-partition
    boxes, not data rows) — the same driver-sized-control-plane
    contract as the JSON sidecar itself (module docstring)."""
    parts = _partial_boxes(delta, key_col, payload).collect()
    out: dict = {}
    for r in parts:
        key = str(int(r._key))
        old = out.get(key)
        if old is None:
            out[key] = {"dmin": list(r.dmin), "dmax": list(r.dmax),
                        "n": int(r.n), "nz": int(r.nz)}
        else:
            out[key] = {
                "dmin": [min(a, b) for a, b in zip(old["dmin"],
                                                   r.dmin)],
                "dmax": [max(a, b) for a, b in zip(old["dmax"],
                                                   r.dmax)],
                "n": old["n"] + int(r.n),
                "nz": old["nz"] + int(r.nz)}
    for ent in out.values():
        ent["dmin"] = [float(x) - EPS_COMPONENT for x in ent["dmin"]]
        ent["dmax"] = [float(x) + EPS_COMPONENT for x in ent["dmax"]]
    return out


def _partial_boxes(delta: DataFrame, key_col: str,
                   payload: Column) -> DataFrame:
    """(_key, dmin, dmax, n, nz) — ONE per-key box row per PARTITION
    (folded across Arrow batches inside each partition), UNWIDENED.
    The numpy pass shared by the driver fold (:func:`_delta_bounds`)
    and the distributed fold (:func:`_delta_bounds_frame`)."""
    import numpy as np
    import pandas as pd

    p = delta.select(F.col(key_col).cast("bigint").alias("_key"),
                     payload.alias("_p"))

    def part_bounds(it):
        acc: dict = {}
        for pdf in it:
            if not len(pdf):
                continue
            keys = pdf["_key"].to_numpy()
            mat = np.vstack(pdf["_p"].to_numpy()).astype(np.float64)
            nrm = np.sqrt((mat * mat).sum(axis=1))
            nonzero = nrm != 0
            nrm[~nonzero] = 1.0   # zero payload → zero direction
            u = mat / nrm[:, None]
            for k in np.unique(keys):
                sel = keys == k
                sub = u[sel]
                ent = acc.get(int(k))
                lo, hi = sub.min(axis=0), sub.max(axis=0)
                nz = int(nonzero[sel].sum())
                if ent is None:
                    acc[int(k)] = [lo, hi, sub.shape[0], nz]
                else:
                    np.minimum(ent[0], lo, out=ent[0])
                    np.maximum(ent[1], hi, out=ent[1])
                    ent[2] += sub.shape[0]
                    ent[3] += nz
        if acc:
            yield pd.DataFrame({
                "_key": list(acc),
                "dmin": [v[0].tolist() for v in acc.values()],
                "dmax": [v[1].tolist() for v in acc.values()],
                "n": [int(v[2]) for v in acc.values()],
                "nz": [int(v[3]) for v in acc.values()]})

    return p.mapInPandas(
        part_bounds,
        schema="_key LONG, dmin ARRAY<DOUBLE>, dmax ARRAY<DOUBLE>, "
               "n LONG, nz LONG")


def _delta_bounds_frame(delta: DataFrame, key_col: str,
                        payload: Column) -> DataFrame:
    """The DISTRIBUTED :func:`_delta_bounds`: exact per-key widened
    boxes as a (key, dmin, dmax, n, nz) frame — partials shuffled by
    key and merged in a second numpy pass, so NOTHING key-count-
    sized ever lands on the driver (the parquet-format path, r13
    VERDICT #6)."""
    import numpy as np
    import pandas as pd

    partial = _partial_boxes(delta, key_col, payload)

    def merge(it):
        acc: dict = {}
        for pdf in it:
            for i in range(len(pdf)):
                k = int(pdf["_key"].iloc[i])
                lo = np.asarray(pdf["dmin"].iloc[i], dtype=np.float64)
                hi = np.asarray(pdf["dmax"].iloc[i], dtype=np.float64)
                ent = acc.get(k)
                if ent is None:
                    acc[k] = [lo.copy(), hi.copy(),
                              int(pdf["n"].iloc[i]),
                              int(pdf["nz"].iloc[i])]
                else:
                    np.minimum(ent[0], lo, out=ent[0])
                    np.maximum(ent[1], hi, out=ent[1])
                    ent[2] += int(pdf["n"].iloc[i])
                    ent[3] += int(pdf["nz"].iloc[i])
        if acc:
            yield pd.DataFrame({
                "key": list(acc),
                "dmin": [(v[0] - EPS_COMPONENT).tolist()
                         for v in acc.values()],
                "dmax": [(v[1] + EPS_COMPONENT).tolist()
                         for v in acc.values()],
                "n": [int(v[2]) for v in acc.values()],
                "nz": [int(v[3]) for v in acc.values()]})

    return (partial.repartition(F.col("_key"))
            .mapInPandas(merge, schema=BOX_SCHEMA))


def load_stats(spark: SparkSession, root: str) -> "dict | None":
    """The committed stats doc, or None (a legacy / never-compacted
    root — probes fall back to the full pruned scan). JSON-format
    docs carry their boxes inline under ``keys``; parquet-format
    docs (``format == "parquet"`` — key counts past
    STATS_PARQUET_THRESHOLD, r13 VERDICT #6) carry instead the
    root-relative ``data`` path of the box table plus ``n_keys``;
    ``_root`` is injected here so the accessors
    (:func:`get_entries`, :func:`bounds_frame`) can resolve it
    without re-threading the root through every probe."""
    from ..fs import read_json_doc
    doc = read_json_doc(spark, _stats_path(root))
    if doc is None:
        return None
    # shallow copy: the cached doc is shared across calls (fs.py) —
    # the "_root" annotation and widen_stats' key-map rebuild must
    # not leak into it
    return {**doc, "_root": root}


def _data_frame(spark: SparkSession, stats: dict) -> DataFrame:
    """The parquet-format box table (key, dmin, dmax, n, nz)."""
    return spark.read.schema(BOX_SCHEMA).parquet(
        f"{stats['_root']}/{stats['data']}")


def get_entries(spark: "SparkSession | None", stats: dict,
                keys: "list[int]") -> "dict[str, dict]":
    """{str(key): box entry} for the requested keys — the DRIVER-side
    accessor the single-query probes use (their probed keys are a
    ≤ fan-out driver list). JSON format: a dict subset, no I/O.
    Parquet format: one key-pruned read of the box table collecting
    ≤ len(keys) rows (needs ``spark``)."""
    if stats.get("format") != "parquet":
        return {str(int(k)): stats["keys"][str(int(k))]
                for k in keys if str(int(k)) in stats["keys"]}
    if spark is None:
        raise ValueError(
            "parquet-format cellstats need a SparkSession to fetch "
            "box entries")
    rows = (_data_frame(spark, stats)
            .filter(F.col("key").isin([int(k) for k in keys]))
            .collect())
    return {str(int(r.key)): {
        "dmin": list(r.dmin), "dmax": list(r.dmax), "n": int(r.n),
        **({"nz": int(r.nz)} if r.nz is not None else {})}
        for r in rows}


def _write_stats(spark: SparkSession, root: str, kind: str,
                 keys: "dict | None" = None,
                 frame: "DataFrame | None" = None,
                 threshold: "int | None" = None) -> dict:
    """Commit a stats doc, choosing the format: a driver dict within
    the threshold stays inline JSON (byte-compatible with r13 docs);
    a dict past it — or any ``frame`` — lands as a parquet box table
    under a fresh ``{root}/_cellstats_data/v-N`` version directory,
    with the JSON stub flip as the atomic commit (a crash before the
    flip leaves an invisible version dir, swept by the next commit).
    Exactly one of ``keys``/``frame``."""
    assert (keys is None) != (frame is None)
    if threshold is None:
        threshold = STATS_PARQUET_THRESHOLD   # call-time: patchable
    if keys is not None and len(keys) <= threshold:
        doc = {"version": 1, "payload": kind, "keys": keys}
        write_text_atomic(spark, _stats_path(root),
                          json.dumps(doc, sort_keys=True))
        doc["_root"] = root
        return doc
    if frame is None:
        frame = spark.createDataFrame(
            [(int(k), e["dmin"], e["dmax"], int(e["n"]),
              e.get("nz")) for k, e in keys.items()], BOX_SCHEMA)
    import re

    from ..fs import delete_path, list_dir
    vers = [int(m.group(1)) for d in
            list_dir(spark, f"{root}/{STATS_DATA_DIR}")
            if (m := re.match(r"^v-(\d{6})$", d))]
    seq = max(vers, default=-1) + 1
    rel = f"{STATS_DATA_DIR}/v-{seq:06d}"
    frame.write.mode("overwrite").parquet(f"{root}/{rel}")
    n_keys = (spark.read.schema(BOX_SCHEMA)
              .parquet(f"{root}/{rel}").count())
    # which version was committed BEFORE this flip: probes read the
    # stub WITHOUT the writer lease and resolve the parquet box table
    # lazily at job execution, so a reader holding the old stub (or a
    # bounds_frame plan over it) must still find its files after we
    # commit — the sweep below therefore keeps ONE prior generation
    # (r14 ADVICE medium; the previous immediate sweep regressed the
    # atomically-read JSON format's no-deleted-data discipline).
    prev_rel = None
    if path_exists(spark, _stats_path(root)):
        old = json.loads(read_text(spark, _stats_path(root)))
        if old.get("format") == "parquet":
            prev_rel = old.get("data")
    doc = {"version": 1, "payload": kind, "format": "parquet",
           "data": rel, "n_keys": n_keys}
    write_text_atomic(spark, _stats_path(root),
                      json.dumps(doc, sort_keys=True))
    # sweep superseded/orphaned version dirs AFTER the commit flip —
    # everything except the version the stub now points at AND the
    # one it pointed at a moment ago (the one-generation grace above;
    # crash-orphaned dirs, which no stub ever referenced, go now)
    keep = {rel, prev_rel}
    for v in vers:
        vrel = f"{STATS_DATA_DIR}/v-{v:06d}"
        if vrel not in keep:
            delete_path(spark, f"{root}/{vrel}")
    doc["_root"] = root
    return doc


def widen_stats(spark: SparkSession, root: str, delta: DataFrame,
                key_col: str, storage: str, dim: int) -> None:
    """Fold a delta's per-key boxes into the root's stats — the
    INGEST hook, called BEFORE the manifest commit (module
    docstring: write-ahead widening is sound; write-behind would
    leave committed rows outside the box on a crash).

    A root with committed batches but NO stats file stays stats-less
    (widening only the delta would exclude the older rows — unsound);
    the first compaction recomputes and creates the file.

    Format dispatch (r13 VERDICT #6): a parquet-format root merges
    DISTRIBUTED — stored boxes ⊔ delta boxes via one full outer join
    + elementwise folds, new version dir, stub flip — nothing
    key-count-sized on the driver. A JSON root keeps the driver-dict
    merge (its keys are ≤ STATS_PARQUET_THRESHOLD by construction)
    and transitions to parquet at the write if the merge crossed the
    threshold. A FRESH root (no boxes yet) counts the delta's keys
    from the distributed frame first, so a 50k-key first ingest
    never materializes a 50k-entry dict."""
    existing = load_stats(spark, root)
    if existing is None:
        from .batches import committed_batches
        if committed_batches(spark, root):
            return   # legacy root: upgrade happens at compaction
        existing = {"version": 1, "payload": None, "keys": {}}
    kind, payload = payload_column(storage)
    if existing["payload"] not in (None, kind):
        raise ValueError(
            f"stats under {root} bound {existing['payload']!r} "
            f"payloads; this ingest stores {kind!r} — the root's "
            f"storage changed out-of-band")
    if existing.get("format") == "parquet":
        merged = _merge_box_frames(
            _data_frame(spark, existing),
            _delta_bounds_frame(delta, key_col, payload))
        _write_stats(spark, root, kind, frame=merged)
        return
    if not existing.get("keys"):
        # fresh root: decide the format from the frame's own key
        # count — bounded driver memory whatever the delta's width
        frame = _delta_bounds_frame(delta, key_col,
                                    payload).localCheckpoint()
        if frame.count() > STATS_PARQUET_THRESHOLD:
            _write_stats(spark, root, kind, frame=frame)
            return
        keys = {str(int(r.key)): {
            "dmin": list(r.dmin), "dmax": list(r.dmax),
            "n": int(r.n), "nz": int(r.nz)} for r in frame.collect()}
        _write_stats(spark, root, kind, keys=keys)
        return
    fresh = _delta_bounds(delta, key_col, payload, dim)
    # new outer dict: existing["keys"] may be the process-wide doc
    # cache's object (fs.read_json_doc) — entries are REPLACED, never
    # mutated in place, so a shallow copy isolates the merge
    keys = dict(existing["keys"])
    for key, ent in fresh.items():
        old = keys.get(key)
        if old is None:
            keys[key] = ent
        else:
            keys[key] = {
                "dmin": [min(a, b) for a, b in zip(old["dmin"],
                                                   ent["dmin"])],
                "dmax": [max(a, b) for a, b in zip(old["dmax"],
                                                   ent["dmax"])],
                "n": old["n"] + ent["n"]}
            # nz (nonzero-direction count — the BOX-mode candidate
            # floor) merges only when BOTH sides carry it: an r13-era
            # entry has no nz, and guessing one could overstate the
            # floor — box-mode pruning then just stays off for the
            # key until the next compaction recomputes exactly
            if "nz" in old and "nz" in ent:
                keys[key]["nz"] = old["nz"] + ent["nz"]
    _write_stats(spark, root, kind, keys=keys)


def _merge_box_frames(stored: DataFrame,
                      fresh: DataFrame) -> DataFrame:
    """stored ⊔ fresh per key, all executor-side: full outer join on
    key, elementwise least/greatest (zip_with) where both sides hold
    the key, pass-through otherwise; n sums; nz sums only when both
    sides carry it (the same merge law as the JSON dict path)."""
    s = stored.select("key", F.col("dmin").alias("s_dmin"),
                      F.col("dmax").alias("s_dmax"),
                      F.col("n").alias("s_n"),
                      F.col("nz").alias("s_nz"))
    f = fresh.select("key", F.col("dmin").alias("f_dmin"),
                     F.col("dmax").alias("f_dmax"),
                     F.col("n").alias("f_n"),
                     F.col("nz").alias("f_nz"))
    j = s.join(f, "key", "full_outer")
    both = F.col("s_dmin").isNotNull() & F.col("f_dmin").isNotNull()
    return j.select(
        "key",
        F.when(both, F.zip_with("s_dmin", "f_dmin",
                                lambda a, b: F.least(a, b)))
        .otherwise(F.coalesce("s_dmin", "f_dmin")).alias("dmin"),
        F.when(both, F.zip_with("s_dmax", "f_dmax",
                                lambda a, b: F.greatest(a, b)))
        .otherwise(F.coalesce("s_dmax", "f_dmax")).alias("dmax"),
        (F.coalesce("s_n", F.lit(0))
         + F.coalesce("f_n", F.lit(0))).alias("n"),
        F.when(both, F.col("s_nz") + F.col("f_nz"))
        .otherwise(F.coalesce("s_nz", "f_nz")).alias("nz"))


def recompute_stats(spark: SparkSession, root: str, scan: DataFrame,
                    key_col: str, storage: str, dim: int) -> dict:
    """EXACT per-key boxes from a full live scan — the COMPACTION
    hook: re-tightens boxes widened by retention/crashes and
    upgrades legacy roots. One aggregate scan (compaction just
    rewrote the same rows). A parquet-format root recomputes
    DISTRIBUTED (frame → new version dir); everything else takes
    the driver-dict path, transitioning to parquet at the write if
    the key count crossed the threshold."""
    kind, payload = payload_column(storage)
    existing = load_stats(spark, root)
    if existing is not None and existing.get("format") == "parquet":
        return _write_stats(
            spark, root, kind,
            frame=_delta_bounds_frame(scan, key_col, payload))
    return _write_stats(spark, root, kind,
                        keys=_delta_bounds(scan, key_col, payload,
                                           dim))


def upper_bound(qci: list, qsq: float, ent: dict) -> float:
    """DRIVER-side best-possible cosine of the query against any
    member of one key's box (module docstring) — pure Python over
    the ≤64-entry arrays, used by the single-query probes where the
    probed keys (≤ nprobe / Hamming-ball) are a driver list."""
    s = sum((q * ent["dmax"][i]) if q >= 0 else (q * ent["dmin"][i])
            for i, q in enumerate(qci))
    return s / ((qsq ** 0.5) * 1e9) + EPS_BOUND


def lower_bound(qci: list, qsq: float, ent: dict) -> float:
    """DRIVER-side WORST-possible cosine of the query against any
    member of one key's box — the mirror fold of :func:`upper_bound`
    (min over the box: pick ``dmin`` where the query component is
    positive, ``dmax`` where negative), slack-widened DOWN by
    EPS_BOUND. Every nonzero-direction member of the key scores at
    least this, which is what BOX-mode early exit (r13 VERDICT #2)
    uses as its free initial threshold: no seed job, no driver
    barrier — the bound comes from arithmetic over the stats file
    alone, so ``early_exit=True`` can never be slower than the plain
    probe."""
    s = sum((q * ent["dmin"][i]) if q >= 0 else (q * ent["dmax"][i])
            for i, q in enumerate(qci))
    return s / ((qsq ** 0.5) * 1e9) - EPS_BOUND


def box_prune_keys(stats: dict, probe_keys: "list[int]", qci: list,
                   qsq: float, m: int,
                   spark: "SparkSession | None" = None,
                   excluded: int = 0) -> "tuple[list, list]":
    """(kept, pruned) split of ``probe_keys`` by the ZERO-JOB box
    bound: the first key (the query's own cell/bucket) supplies a
    free threshold — its box's :func:`lower_bound` is a floor under
    the cosine of every one of its ``nz`` nonzero-direction members,
    so when ``nz ≥ m`` the final top-m can never include a row from
    a key whose :func:`upper_bound` sits strictly below that floor.

    ``nz``, not ``n``: zero vectors score NULL and never rank, so
    only nonzero members witness the floor (an r13-era stats entry
    without ``nz`` keeps everything — sound, just unpruned, until
    the next ingest/compaction records it). ``excluded`` (r14 ADVICE
    high): the number of stored rows the caller removes from scoring
    (``exclude_id`` / ``exclude_self`` — at most one per query) that
    MIGHT live in the seed key; ``nz`` counts them, so the gate
    demands ``nz ≥ m + excluded`` scoreable witnesses — with exactly
    ``nz == m`` members one of which is the excluded id, only m−1
    rows witness the floor and pruning would be unsound. Pure driver
    arithmetic over ≤ len(probe_keys) × dim terms; a parquet-format
    root prefetches those entries in one key-pruned read
    (:func:`get_entries` — needs ``spark``)."""
    ents = get_entries(spark, stats, [int(k) for k in probe_keys])
    seed = ents.get(str(int(probe_keys[0])))
    rest = [int(c) for c in probe_keys[1:]]
    if seed is None or seed.get("nz", 0) < m + excluded:
        return list(probe_keys), []
    floor = lower_bound(qci, qsq, seed)
    kept, pruned = [int(probe_keys[0])], []
    for c in rest:
        ent = ents.get(str(c))
        if ent is not None and upper_bound(qci, qsq, ent) < floor:
            pruned.append(c)
        else:
            kept.append(c)
    return kept, pruned


def bounds_frame(spark: SparkSession, stats: dict, key_col: str,
                 keys: "list[int] | None") -> DataFrame:
    """The boxes of ``keys`` (None = ALL keys) as a frame
    (key, dmin ARRAY<DOUBLE>, dmax ARRAY<DOUBLE>, nz) — the BATCH
    probes' executor-side bound input. JSON format: a re-literalized
    driver frame (broadcast-sized by the format's own threshold).
    Parquet format: the box TABLE itself, key-pruned — a real frame,
    never a driver JSON blow-up (r13 VERDICT #6). Keys without a box
    (possible only on a tampered stats file — widening covers every
    ingested key) are omitted; the batch pruner treats a missing box
    as unprunable, never as empty."""
    if stats.get("format") == "parquet":
        df = _data_frame(spark, stats)
        if keys is not None:
            df = df.filter(F.col("key").isin([int(k) for k in keys]))
        return df.select(F.col("key").alias(key_col), "dmin", "dmax",
                         "nz")
    if keys is None:
        keys = [int(k) for k in stats["keys"]]
    rows = [(int(k), stats["keys"][str(k)]["dmin"],
             stats["keys"][str(k)]["dmax"],
             stats["keys"][str(k)].get("nz"))
            for k in keys if str(k) in stats["keys"]]
    return spark.createDataFrame(
        rows, f"{key_col} BIGINT, dmin ARRAY<DOUBLE>, "
              f"dmax ARRAY<DOUBLE>, nz BIGINT")


def upper_bound_col(qci: Column, qsq: Column) -> Column:
    """EXECUTOR-side :func:`upper_bound` — the same fold as a
    Column over (qci, dmin, dmax, qsq), for the batch probes' pair
    pruning. NULL dmin/dmax (a probed key with no box) folds to
    NULL, which the pruner keeps (unprunable)."""
    s = F.aggregate(
        F.transform(
            qci,
            lambda q, i: F.greatest(
                q.cast("double") * F.element_at(F.col("dmin"), i + 1),
                q.cast("double") * F.element_at(F.col("dmax"),
                                                i + 1))),
        F.lit(0.0), lambda acc, p: acc + p)
    return s / (F.sqrt(qsq) * F.lit(1e9)) + F.lit(EPS_BOUND)


def lower_bound_col(qci: Column, qsq: Column) -> Column:
    """EXECUTOR-side :func:`lower_bound` — the worst-possible-cosine
    fold as a Column over (qci, dmin, dmax, qsq), for the batch
    probes' BOX-mode seed floor. NULL boxes fold to NULL (no
    floor)."""
    s = F.aggregate(
        F.transform(
            qci,
            lambda q, i: F.least(
                q.cast("double") * F.element_at(F.col("dmin"), i + 1),
                q.cast("double") * F.element_at(F.col("dmax"),
                                                i + 1))),
        F.lit(0.0), lambda acc, p: acc + p)
    return s / (F.sqrt(qsq) * F.lit(1e9)) - F.lit(EPS_BOUND)


def early_exit_scored(stats: dict, scan: DataFrame, key_col: str,
                      probe_keys: "list[int]", qci: list, qsq: float,
                      m: int, score_fn,
                      mode: str = "box",
                      excluded: int = 0) -> "tuple[DataFrame, list]":
    """The SINGLE-QUERY early-exit candidate frame: a scored frame
    whose top-m rows under (cosine desc, vec_id asc) equal the full
    probed scan's top-m.

    ``mode="box"`` (the default since r14 — VERDICT r13 #2): the
    threshold is the SEED KEY'S OWN BOX lower bound
    (:func:`box_prune_keys`) — pure driver arithmetic over the stats
    file, so the plan is ONE scan with a (possibly) smaller literal
    IN-list and early exit is never slower than the plain probe,
    idle cluster or busy. On tightly clustered data the box floor
    sits just under the true in-cluster kth, so it prunes the same
    separated cells the seeded threshold does; what it cannot prune
    is the marginal cell whose bound falls between the box floor and
    the true kth.

    ``mode="seed"`` (the r13 shape — maximal pruning for constrained
    task slots): first the free box prune, then

    1. **seed**: score the FIRST probed key only (the query's own
       nearest cell / own bucket — where the true neighbors
       concentrate) and COLLECT its top-m to the driver — ≤ m rows
       via the TakeOrderedAndProject fast path (per-partition top-m,
       driver merge; a localCheckpoint here would degrade the
       sort+limit plan to a full global sort of the seed list —
       measured 4× the collect at 200k-row cells), re-literalized as
       a tiny DataFrame;
    2. **L** = the seed's m-th cosine (already on the driver) —
       ≥ the box floor, so it prunes a superset of the box prune.
       Fewer than m non-null seed cosines → no further pruning;
    3. **prune**: drop every remaining key whose box upper bound
       (:func:`upper_bound`, already slack-widened) is < L — every
       row it holds scores strictly below m rows we already have,
       so the global top-m cannot contain it;
    4. **union**: seed ∪ the surviving keys' scores (ONE more scan
       with a literal smaller IN-list).

    The seed collect is a synchronous driver barrier and a second
    sequential job: on an IDLE cluster it DOUBLES probe wall while
    cutting task-seconds ~4× (the r13 cost model) — which is why
    "box" is the default and "seed" the opt-in.

    Returns (scored frame, pruned keys). ``score_fn`` maps an
    already key-filtered scan to UNSORTED (vec_id, cosine, …) rows
    — the same expression the plain probe ranks, so parity is by
    construction (test-pinned row-for-row at every fan-out, both
    modes)."""
    spark = scan.sparkSession
    if mode == "seed2":
        mode = "seed"   # single-query: see normalize_mode
    ents = get_entries(spark, stats, [int(k) for k in probe_keys])
    prefetched = {"format": "json", "payload": stats["payload"],
                  "keys": ents}
    kept, pruned = box_prune_keys(prefetched, probe_keys, qci, qsq,
                                  m, excluded=excluded)
    if mode == "box":
        if not pruned:
            # nothing proved prunable: the plain single-scan plan
            return score_fn(
                scan.filter(F.col(key_col).isin(
                    [int(c) for c in probe_keys]))), []
        return score_fn(scan.filter(F.col(key_col).isin(kept))), \
            pruned

    seed_key = int(probe_keys[0])
    seed_scored = score_fn(scan.filter(F.col(key_col) == seed_key))
    seed_rows = (seed_scored
                 .orderBy(F.desc("cosine"), F.asc("vec_id"))
                 .limit(m).collect())
    seed = spark.createDataFrame(seed_rows, seed_scored.schema)
    cosines = sorted((float(r.cosine) for r in seed_rows
                      if r.cosine is not None), reverse=True)
    rest = [c for c in kept if c != seed_key]
    if len(cosines) >= m:
        L = cosines[m - 1]
        keep = []
        for c in rest:
            ent = ents.get(str(c))
            if ent is not None and upper_bound(qci, qsq, ent) < L:
                pruned.append(c)
            else:
                keep.append(c)
        rest = keep
    if not rest:
        return seed, pruned
    return (seed.unionByName(
        score_fn(scan.filter(F.col(key_col).isin(rest)))),
        pruned)


def verify_stats(spark: SparkSession, root: str, scan: DataFrame,
                 key_col: str, storage: str,
                 dim: int) -> "tuple[str, list[str]]":
    """Fsck hook: SOUNDNESS of the committed boxes — every live
    row's direction must sit inside its key's box (a row outside it
    could be wrongly pruned: data loss at probe time, the one
    failure class early exit can add). Returns (status, violations).
    One aggregate scan; skipped (and said so) when the root has no
    stats."""
    stats = load_stats(spark, root)
    if stats is None:
        return "skipped: no stats file (legacy root — compaction "\
               "creates it)", []
    violations: list[str] = []
    kind, payload = payload_column(storage)
    if stats["payload"] != kind:
        violations.append(
            f"cellstats: file bounds {stats['payload']!r} payloads "
            f"but the root stores {kind!r}")
        return "checked", violations
    bf = bounds_frame(spark, stats, key_col, None)
    if stats.get("format") != "parquet":
        # inline JSON boxes are threshold-bounded — broadcast; a
        # parquet box table can be arbitrarily keyed, so let the
        # planner pick (shuffle join past the broadcast threshold)
        bf = F.broadcast(bf)
    u = _direction(payload)
    probed = (scan.select(F.col(key_col).cast("bigint")
                          .alias(key_col), u.alias("_u"))
              .join(bf, key_col, "left"))
    inside = F.aggregate(
        F.transform(
            "_u",
            lambda x, i: (x >= F.element_at(F.col("dmin"), i + 1))
            & (x <= F.element_at(F.col("dmax"), i + 1))),
        F.lit(True), lambda acc, p: acc & p)
    n_out = probed.filter(F.col("dmin").isNull()
                          | ~inside).count()
    if n_out:
        violations.append(
            f"cellstats: {n_out} live rows sit outside their "
            f"{key_col}'s recorded direction box — early-exit "
            f"pruning could skip true neighbors; recompute via "
            f"compaction")
    return "checked", violations
