"""The two benchmark workloads.

Each workload is a closed loop with one client: it builds its
fixtures (timed as set-up), then issues one op at a time from an
endless stream of seeded periods. A period is a fixed multiset of op
kinds in seeded order with seeded contents, so every period does the
same work. The run's ``cycle_s`` (wall) and ``cycle_cpu_s`` (CPU of
the driver, its JVM and the Python workers) are one period summed
from the per-kind medians. Each op returns a check that runs
after the op's timed section; a check that fails, or an op that
raises, counts as a failed op.

- ``analytic_mix`` (the data plane): a fixed panel of registered
  queries, each built and collected in seeded order and hash-compared
  with DuckDB after its timed section, plus one stage-4
  ``full_calibration_run`` in a fresh work directory (the daily batch
  shape: nothing is memoised across periods). Tables have the sf0.001
  fixture's shape.
- ``ingest_serve`` (the control plane), two parts in one process:
  the corpus part runs ``ingest_delta`` on a seeded delta (fresh docs,
  re-keyed exact dups, near dups) into a standing corpus root, then
  ``compact_batches``; the vector part runs single probes and 32-query
  batch probes on an ANN and an IVF root, with one delta ingest into
  each root. Pool sizes are the sf0.1 fixture's ``documents`` and
  ``embeddings`` row counts, delta sizes ``bench.py``'s.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os

import numpy as np
import pandas as pd

from . import inputs

# a fixed panel, so every seed times the same work, kept small enough
# for a run's budget: joins (with jobs in the builder), a cube, window
# functions, timestamp deltas on ``events``, and the connected-
# components loop that runs Spark jobs inside its builder. Arrow UDFs
# are timed by the calibration run.
PANEL = ("j2_key_intersection_join", "a5_a10_pricing_cube",
         "w3_w6_lag_rank", "f5_f6_f9_s7_event_deltas",
         "dx4_neardup_cluster_cc")
# LSH probe radius: the query bucket and every bucket within Hamming
# distance 2 (37 of 256), so each probe sees well over k candidates
ANN_HAMMING = 2
# single probes per index family in one period of the vector part
PROBES_PER_PERIOD = 2
BATCH_QUERIES = 32
ORACLE_TABLES = ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings")


class CheckFailed(AssertionError):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


# -- DuckDB row comparison (the normalisation of tests/test_oracle_parity)

def _norm_cell(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, datetime.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, decimal.Decimal):
        return ("f", repr(float(v)))
    return ("s", str(v))


def normalized(cols, rows) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def _parquet_df(spark, path: str, df: pd.DataFrame):
    df.to_parquet(path, index=False)
    return spark.read.parquet(path), os.path.getsize(path)


def _files_of_batch(root: str, batch_id: str) -> int:
    tag = f"batch_id={batch_id}"
    return sum(1 for d, _, fs in os.walk(root) if tag in d
               for f in fs if f.endswith(".parquet"))


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)


def _read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _median(xs):
    return float(np.median(xs)) if xs else float("nan")


def _walls(ops, kind):
    return [o.wall for o in ops if o.kind == kind and o.ok]


class Workload:
    """Base: ``setup`` builds fixtures, ``period`` lists one period of
    ops, ``finish`` lists the end-of-run checks and ``detail`` returns
    the workload's own metrics for the run report. An op is
    ``(kind, fn)``; ``fn(op)`` runs the timed work and returns a
    zero-argument check (or None)."""

    name = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tmp = ctx.tmp

    def finish(self, rng) -> list[tuple[str, object]]:
        return []


class AnalyticMix(Workload):
    name = "analytic_mix"

    def setup(self) -> None:
        import duckdb

        from light_redistribution_in_3dptf_data_pipeline_spark.queries \
            import QUERIES

        self.sf_dir = os.path.join(self.tmp, "tables")
        self.ctx.info["table_bytes"] = inputs.write_tables(
            self.sf_dir, self.ctx.scale, n_docs=self.ctx.table_docs,
            n_vecs=self.ctx.table_vecs)
        self.queries = [QUERIES[n] for n in PANEL]
        self.duck = duckdb.connect()
        for t in ORACLE_TABLES:
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                              f"'{self.sf_dir}/{t}.parquet'")
        self.n_calib = 0

    def _query(self, q):
        def fn(op):
            with op.span("build"):
                sdf = q.builder(self.spark, self.sf_dir)
            with op.span("exec"):
                rows = [tuple(r) for r in sdf.collect()]
            cols = sdf.columns

            def verify():
                res = self.duck.execute(q.oracle)
                dcols = [d[0] for d in res.description]
                check(sorted(cols) == sorted(dcols),
                      f"{q.name}: columns {cols} vs {dcols}")
                check(normalized(cols, rows) == normalized(dcols,
                                                           res.fetchall()),
                      f"{q.name}: rows differ from DuckDB")
            return verify
        return fn

    def _calibration(self, op):
        from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
            calibration as cal)
        from light_redistribution_in_3dptf_data_pipeline_spark.udf import (
            calibration as ucal, geometry)
        self.n_calib += 1
        out = cal.full_calibration_run(
            self.spark, os.path.join(self.tmp, f"calib{self.n_calib}"))

        def verify():
            rot = geometry.rodrigues_to_matrix
            check(np.allclose(out["K"], ucal.FAKE_K, rtol=1e-4),
                  f"calibration: intrinsics {out['K']}")
            check(np.allclose(rot(out["params"][:3]), rot(cal.TRUE_RVEC),
                              atol=1e-6)
                  and np.allclose(out["params"][3:], cal.TRUE_TVEC,
                                  atol=1e-3),
                  f"calibration: pose {out['params']}")
            check(out["stats"]["rmse"] < 1e-4,
                  f"calibration: rmse {out['stats']['rmse']}")
            check(len(out["worst"].collect()) == 10,
                  "calibration: worst-pose report is not 10 rows")
        return verify

    def period(self, rng):
        ops = [(f"query.{q.name}", self._query(q)) for q in self.queries]
        ops.append(("calibration", self._calibration))
        return [ops[i] for i in rng.permutation(len(ops))]

    def detail(self, ops):
        return {"analytic_pass_s": sum(
                    _median(_walls(ops, f"query.{n}")) for n in PANEL),
                "calibration_run_s": _median(_walls(ops, "calibration"))}


class CorpusIngest(Workload):
    """The corpus part of ``ingest_serve``."""

    def setup(self) -> None:
        from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
            corpus)
        self.corpus = corpus
        self.root = os.path.join(self.tmp, "corpus")
        n = self.ctx.n_docs
        # the standing root holds 60 % of the pool; dups come from it
        self.base = inputs.doc_pool(n).iloc[: n * 6 // 10]
        df, self.in_bytes = _parquet_df(
            self.spark, os.path.join(self.tmp, "base.parquet"), self.base)
        corpus.ingest_delta(self.spark, self.root, df, "base")
        self.next_id = n
        self.n_batch = 0

    def _ingest(self, rng):
        n = self.ctx.n_docs
        # 10 % fresh plus a 10 % dup block, half exact and half near
        delta = inputs.corpus_delta(rng, self.base, self.next_id,
                                    n_fresh=n // 10, n_exact=n // 20,
                                    n_near=n // 20)
        self.next_id += len(delta)
        self.n_batch += 1
        bid = f"d{self.n_batch:04d}"
        df, nbytes = _parquet_df(
            self.spark, os.path.join(self.tmp, f"docs-{bid}.parquet"), delta)
        self.in_bytes += nbytes

        def fn(op):
            self.corpus.ingest_delta(self.spark, self.root, df, bid)
            op.items = len(delta)

            def verify():
                m = _read_json(os.path.join(self.root, "_manifests",
                                            f"{bid}.json"))
                dropped = sum(m[k] for k in m if k.startswith("n_")
                              and k.endswith("_dropped"))
                check(m["n_input"] == len(delta),
                      f"{bid}: n_input {m['n_input']} != {len(delta)}")
                check(m["n_input"] == m["n_admitted"] + dropped,
                      f"{bid}: ledger does not balance: {m}")
                # every delta carries both kinds of duplicate
                check(m["n_exact_dropped"] >= 1 and
                      m["n_neardup_dropped"] >= 1,
                      f"{bid}: a duplicate gate dropped nothing: {m}")
                if self.ctx.traced:
                    op.layers["files"] = float(_files_of_batch(self.root,
                                                               bid))
            return verify
        return fn

    def _compact(self, op):
        self.corpus.compact_batches(self.spark, self.root)

    def period(self, rng):
        return [("corpus.ingest", self._ingest(rng)),
                ("corpus.compact", self._compact)]

    def finish(self, rng):
        def fsck(op):
            report = self.corpus.verify_corpus(self.spark, self.root)
            return lambda: check(not report["violations"],
                                 f"verify_corpus: {report['violations']}")
        return [("corpus.verify", fsck)]

    def detail(self, ops):
        ing = [o for o in ops if o.kind == "corpus.ingest" and o.ok]
        # ingest throughput with the cost of compaction included
        timed = sum(o.wall for o in ops if o.kind.startswith("corpus."))
        return {"ingest_batch_p50_s": _median([o.wall for o in ing]),
                "ingest_docs_per_s": sum(o.items for o in ing) / timed
                if timed else 0.0,
                "corpus_input_bytes": self.in_bytes,
                "corpus_bytes_per_input_byte":
                    _dir_bytes(self.root) / self.in_bytes}


class VectorServe(Workload):
    """The vector part of ``ingest_serve``."""

    def setup(self) -> None:
        from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
            ann_index, ivf_index)
        self.ann, self.ivf = ann_index, ivf_index
        n = self.ctx.n_vecs
        pool = inputs.vector_pool(n)
        self.base = pool.iloc[: n * 6 // 10]
        self.roots = {"ann": os.path.join(self.tmp, "ann"),
                      "ivf": os.path.join(self.tmp, "ivf")}
        base, self.in_bytes = _parquet_df(
            self.spark, os.path.join(self.tmp, "vbase.parquet"), self.base)
        ivf_index.init_ivf_index(self.spark, self.roots["ivf"], base)
        self.n_cells = int(self.base["label"].nunique())
        ann_index.ann_ingest_delta(self.spark, self.roots["ann"], base, "base")
        ivf_index.ivf_ingest_delta(self.spark, self.roots["ivf"],
                                   base.drop("label"), "base")
        # live content, for the brute-force check
        self.live_ids = list(self.base["vec_id"])
        self.live_vecs = [np.stack(self.base["embedding"])]
        self.next_id = n
        self.n_batch = self.n_q = 0

    def _probe_input(self, rng, n):
        """Queries near ``n`` distinct live vectors; each excludes the
        vector it was drawn from (the "more like this" shape)."""
        pick = rng.choice(len(self.base), n, replace=False)
        src = np.stack(self.base["embedding"].iloc[pick])
        q = src + 0.3 * inputs.unit_vectors(rng, n)
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        return self.base["vec_id"].iloc[pick].to_numpy(), q.astype(np.float32)

    def _probe(self, fam, rng, **kw):
        ids, q = self._probe_input(rng, 1)
        exclude, vec = int(ids[0]), [float(x) for x in q[0]]
        topk = self.ann.ann_incremental_topk if fam == "ann" else \
            self.ivf.ivf_incremental_topk

        def fn(op):
            with op.span("build"):
                sdf = topk(self.spark, self.roots[fam], vec,
                           exclude_id=exclude, **kw)
            with op.span("exec"):
                rows = sdf.collect()
            op.items = 1
            return lambda: _check_topk(f"{fam} probe", rows, exclude,
                                       self.ctx.k)
        return fn

    def _batch(self, fam, rng):
        ids, q = self._probe_input(rng, BATCH_QUERIES)
        self.n_q += 1
        df, _ = _parquet_df(
            self.spark, os.path.join(self.tmp, f"q{self.n_q}.parquet"),
            pd.DataFrame({"qid": ids.astype(np.int64), "embedding": list(q)}))
        topk, kw = (self.ann.ann_batch_topk, {"hamming": ANN_HAMMING}) \
            if fam == "ann" else (self.ivf.ivf_batch_topk, {})

        def fn(op):
            rows = topk(self.spark, self.roots[fam], df, **kw).collect()
            op.items = BATCH_QUERIES

            def verify():
                by_q = {}
                for r in rows:
                    by_q.setdefault(r["qid"], []).append(r)
                check(set(by_q) == set(int(i) for i in ids),
                      f"{fam} batch: {len(by_q)} of {BATCH_QUERIES} "
                      f"queries answered")
                for qid, rs in by_q.items():
                    rs.sort(key=lambda r: -r["cosine"])
                    _check_topk(f"{fam} batch q{qid}", rs, qid, self.ctx.k)
            return verify
        return fn

    def _ingest_pair(self, rng):
        self.n_batch += 1
        bid = f"d{self.n_batch:04d}"
        # a 10 % delta, as in bench.py's ingest legs
        delta = inputs.vector_delta(rng, self.next_id, self.ctx.n_vecs // 10)
        self.next_id += len(delta)
        self.live_ids += list(delta["vec_id"])
        self.live_vecs.append(np.stack(delta["embedding"]))
        df, nbytes = _parquet_df(
            self.spark, os.path.join(self.tmp, f"vecs-{bid}.parquet"), delta)
        self.in_bytes += nbytes

        def ingest(fam):
            def fn(op):
                fn_ = self.ann.ann_ingest_delta if fam == "ann" else \
                    self.ivf.ivf_ingest_delta
                m = fn_(self.spark, self.roots[fam], df, bid)
                op.items = len(delta)

                def verify():
                    check(m["n_admitted"] == len(delta),
                          f"{fam} ingest {bid}: admitted {m['n_admitted']}")
                    if self.ctx.traced:
                        op.layers["files"] = float(
                            _files_of_batch(self.roots[fam], bid))
                return verify
            return fn
        return [("ann.ingest", ingest("ann")), ("ivf.ingest", ingest("ivf"))]

    def period(self, rng):
        ops = [("ann.probe", self._probe("ann", rng, hamming=ANN_HAMMING))
               for _ in range(PROBES_PER_PERIOD)] + [
            ("ivf.probe", self._probe("ivf", rng))
            for _ in range(PROBES_PER_PERIOD)] + [
            ("ann.batch", self._batch("ann", rng)),
            ("ivf.batch", self._batch("ivf", rng))]
        ops = [ops[i] for i in rng.permutation(len(ops))]
        ingests = self._ingest_pair(rng)
        at = int(rng.integers(0, len(ops) + 1))
        return ops[:at] + ingests + ops[at:]

    def finish(self, rng):
        """A full-fan-out probe on a seeded family against the
        brute-force top-k over every live vector. ``verify_ann_index``
        and ``verify_ivf_index`` are not run: each takes 6-8 s in a
        fresh JVM, more than the run budget leaves."""
        ids, q = self._probe_input(rng, 1)
        vec, exclude = [float(x) for x in q[0]], int(ids[0])
        fam = ("ann", "ivf")[int(rng.integers(0, 2))]
        topk, kw = (self.ann.ann_incremental_topk, {"hamming": 8}) \
            if fam == "ann" else (self.ivf.ivf_incremental_topk,
                                  {"nprobe": self.n_cells})

        def full_fanout(op):
            rows = topk(self.spark, self.roots[fam], vec, exclude_id=exclude,
                        **kw).collect()
            return lambda: self._check_brute(fam, rows, q[0], exclude)
        return [(f"{fam}.full_fanout", full_fanout)]

    def _check_brute(self, fam, rows, q, exclude):
        ids = np.array(self.live_ids)
        scores = np.concatenate(self.live_vecs).astype(np.float64) @ \
            q.astype(np.float64)
        scores[ids == exclude] = -np.inf
        kth = np.sort(scores)[-self.ctx.k]
        got = [int(r["vec_id"]) for r in rows]
        check(len(got) == self.ctx.k and len(set(got)) == len(got),
              f"{fam} full fan-out: {len(got)} rows")
        pos = {int(v): i for i, v in enumerate(ids)}
        check(all(scores[pos[g]] >= kth - 1e-6 for g in got),
              f"{fam} full fan-out differs from brute-force top-k")

    def detail(self, ops):
        probes = sorted(o.wall for o in ops
                        if o.kind in ("ann.probe", "ivf.probe") and o.ok)
        batch = [o for o in ops if o.kind.endswith(".batch") and o.ok]
        ing = [o for o in ops if o.kind.endswith(".ingest") and o.ok]
        return {
            "probe_p50_s": _median(probes),
            "probe_p90_s": float(np.quantile(probes, 0.9)) if probes
            else float("nan"),
            "batch_probe_queries_per_s": sum(o.items for o in batch)
            / max(sum(o.wall for o in batch), 1e-9),
            "vector_ingest_rows_per_s": sum(o.items for o in ing)
            / max(sum(o.wall for o in ing), 1e-9),
            "vector_input_bytes": self.in_bytes,
            "index_bytes_per_input_byte":
                sum(_dir_bytes(r) for r in self.roots.values())
                / (2 * self.in_bytes),
        }


def _check_topk(what, rows, exclude, k):
    check(len(rows) == k, f"{what}: {len(rows)} rows, want {k}")
    cos = [r["cosine"] for r in rows]
    check(all(a >= b for a, b in zip(cos, cos[1:])),
          f"{what}: scores not in descending order")
    check(all(int(r["vec_id"]) != int(exclude) for r in rows),
          f"{what}: excluded id {exclude} returned")


class IngestServe(Workload):
    """The corpus and the vector parts in one process: each period
    puts the corpus ingest and its compaction at a seeded place among
    the vector ops."""

    name = "ingest_serve"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.parts = (CorpusIngest(ctx), VectorServe(ctx))

    def setup(self) -> None:
        for part in self.parts:
            part.setup()

    def period(self, rng):
        corpus, vector = (part.period(rng) for part in self.parts)
        at = int(rng.integers(0, len(vector) + 1))
        return vector[:at] + corpus + vector[at:]

    def finish(self, rng):
        return [op for part in self.parts for op in part.finish(rng)]

    def detail(self, ops):
        return {k: v for part in self.parts for k, v in
                part.detail(ops).items()}


WORKLOADS = {w.name: w for w in (AnalyticMix, IngestServe)}
