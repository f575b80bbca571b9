#!/usr/bin/env python3
"""Benchmark of the package's public functions, run from one process.

Run from the repository root:

    python3 perfbench/run.py --workload analytic_mix --seed 1 \\
        --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

One run starts Spark on ``local[<nproc - 1>]`` through the package's
own ``session.get_spark``, builds the workload's fixtures, runs the
workload's closed loop (one client, see ``workloads.py``) for whole
op periods that fit in ``--seconds`` (at least one), checks every
op's output outside its timed section, runs the end-of-run checks,
and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics and ``--trace 1`` the
per-layer metrics that ``BENCHMARK.json`` names; per-layer figures are
read from Spark's status stores and from counters on the package's
``fs`` helpers (see ``trace.py``). Every run also writes one
``perfbench-report`` JSON line to stderr with the run's environment
(master, default parallelism, nproc, versions, input sizes, seed),
the set-up breakdown, per-kind op medians, the per-workload detail
metrics, the failed-op ratio and every end-to-end figure, gated or
not (the wall ``cycle_s`` and the driver's peak RSS are reported but
not gated), so the tracing overhead is the traced figure minus the
untraced one. ``--smoke`` runs every workload once each way at the
smallest size, checks the result lines against ``BENCHMARK.json`` and
prints the tracing overhead.

All temporary data lives under ``.perfbench_tmp/`` in the working
directory and is removed at exit. The run exits non-zero without a
result line when the package is not in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
from collections import Counter
from types import SimpleNamespace

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "light_redistribution_in_3dptf_data_pipeline_spark"

# per-layer metrics averaged over the ops of some kinds only:
# (kind prefix, per-op value)
_KIND_MEANS = {
    "queries.build_s": ("query.", lambda o: o.span_s("build")),
    "queries.build_jobs": ("query.", lambda o: o.layers["span.build.jobs"]),
    "corpus.jobs_per_batch": ("corpus.ingest",
                              lambda o: o.layers["spark.jobs"]),
    "corpus.files_per_batch": ("corpus.ingest",
                               lambda o: o.layers.get("files", 0.0)),
    "corpus.compact_s": ("corpus.compact", lambda o: o.wall),
    "operators.dedup_build_s": (
        "corpus.ingest", lambda o: o.layers["operators.dedup_build_s"]),
    "ann.probe_build_s": ("ann.probe", lambda o: o.span_s("build")),
    "ann.probe_exec_s": ("ann.probe", lambda o: o.span_s("exec")),
    "ivf.probe_build_s": ("ivf.probe", lambda o: o.span_s("build")),
    "ivf.probe_exec_s": ("ivf.probe", lambda o: o.span_s("exec")),
    "ann.batch_probe_jobs": ("ann.batch", lambda o: o.layers["spark.jobs"]),
    "ivf.batch_probe_jobs": ("ivf.batch", lambda o: o.layers["spark.jobs"]),
    "ann.files_per_batch": ("ann.ingest",
                            lambda o: o.layers.get("files", 0.0)),
    "ivf.files_per_batch": ("ivf.ingest",
                            lambda o: o.layers.get("files", 0.0)),
}
# analytic tables (scale factor, documents and embeddings rows), and
# the corpus and vector pools. ``full`` gives the tables the sf0.001
# fixture's shape, because a cold pass over them is what fits one run,
# and the pools the sf0.1 fixture's ``documents`` and ``embeddings``
# row counts, because ingest and probe cost barely depends on size
# there; ``smoke`` shrinks the pools to the sf0.001 counts.
SIZES = {
    "full": {"scale": 0.001, "table_docs": 500, "table_vecs": 500,
             "n_docs": 5000, "n_vecs": 2000},
    "smoke": {"scale": 0.001, "table_docs": 500, "table_vecs": 500,
              "n_docs": 500, "n_vecs": 500},
}


def _vm_hwm_kb(pid: "int | str") -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _prepare_env(root: str, tmp: str, workers: int) -> None:
    """Environment for the driver, its JVM and the Python workers; must
    be set before pyspark starts the JVM."""
    os.environ["SPARK_GRAFT_CPUS"] = str(workers)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={tmp}/warehouse",
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "pyspark-shell"])
    if root not in sys.path:
        sys.path.insert(0, root)


def _run_op(rec, kind, fn, keep=True) -> bool:
    """Run one op and its check; returns whether both passed."""
    verify = None
    ok = True
    with rec.op(kind, keep=keep) as op:
        try:
            verify = fn(op)
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            ok = False
            print(f"perfbench: {kind} raised {type(e).__name__}: {e}",
                  file=sys.stderr)
    if ok and verify is not None:
        try:
            verify()
        except Exception as e:  # noqa: BLE001
            ok = False
            print(f"perfbench: {kind} check failed: {e}", file=sys.stderr)
    op.ok = ok
    return ok


def _aggregate_layers(ops, names) -> dict[str, float]:
    """Each named per-layer metric: a mean per op (over the ops of its
    kinds, for those in ``_KIND_MEANS``), or the JSON-doc hit ratio."""
    out = {}
    for name in names:
        if name == "fs.json_doc_hit_ratio":
            docs = sum(o.layers["fs.json_docs"] for o in ops)
            hits = docs - sum(o.layers["fs.json_misses"] for o in ops)
            out[name] = hits / docs if docs else 0.0
            continue
        prefix, value = _KIND_MEANS.get(name, ("", lambda o: o.layers[name]))
        vals = [value(o) for o in ops if o.kind.startswith(prefix)]
        out[name] = float(np.mean(vals)) if vals else 0.0
    return out


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def run(root: str, workload: str, seed: int, seconds: float, traced: bool,
        size: str = "full") -> dict:
    spec = load_spec(root)
    nproc = len(os.sched_getaffinity(0))
    # one core is left to the driver (Python and JVM): with every core
    # running tasks, a stage waits on whichever task shares a core with
    # the driver, and run-to-run spread doubles
    workers = max(1, nproc - 1)
    base = os.path.join(root, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{workload}-", dir=base)
    _prepare_env(root, tmp, workers)
    spark = jvm = None
    try:
        setup = {}
        t0 = time.perf_counter()
        fs_counters = timers = None
        if traced:
            from perfbench import trace

            from light_redistribution_in_3dptf_data_pipeline_spark import fs
            fs_counters = trace.FsCounters()
            trace.install_fs_counters(fs, fs_counters)
            from light_redistribution_in_3dptf_data_pipeline_spark.operators \
                import dedup
            timers = {"operators.dedup_build_s": trace.SpanTimer()}
            dedup.neardup_delta_simhash = timers[
                "operators.dedup_build_s"].wrap(dedup.neardup_delta_simhash)
        from light_redistribution_in_3dptf_data_pipeline_spark.session import (
            get_spark)
        spark = get_spark(app_name=f"perfbench-{workload}",
                          master=f"local[{workers}]",
                          shuffle_partitions=workers)
        jvm = spark.sparkContext._gateway.proc
        spark.sparkContext.setLogLevel("ERROR")
        setup["session_s"] = time.perf_counter() - t0

        # one Arrow task per core, so every Python worker has started
        # before the first timed op, whichever op that is
        t0 = time.perf_counter()
        spark.range(0, workers, 1, workers).mapInPandas(
            lambda it: (pdf for pdf in it), schema="id long").collect()
        setup["python_workers_s"] = time.perf_counter() - t0

        from perfbench import trace, workloads

        ctx = SimpleNamespace(spark=spark, tmp=tmp, traced=traced, k=10,
                              info={}, **SIZES[size])
        wl = workloads.WORKLOADS[workload](ctx)
        t0 = time.perf_counter()
        wl.setup()
        setup["fixtures_s"] = time.perf_counter() - t0
        rec = trace.Recorder(spark, fs_counters, timers)
        attempted = failed = periods = 0
        rng = np.random.default_rng(seed)
        t_start = time.perf_counter()
        while True:
            ops = wl.period(rng)
            if not periods:
                per_period = Counter(kind for kind, _ in ops)
            for kind, fn in ops:
                ok = _run_op(rec, kind, fn)
                attempted, failed = attempted + 1, failed + (not ok)
            periods += 1
            elapsed = time.perf_counter() - t_start
            if elapsed + elapsed / periods > seconds:
                break
        timed_ops = list(rec.ops)
        t0 = time.perf_counter()
        for kind, fn in wl.finish(rng):
            ok = _run_op(rec, kind, fn, keep=False)
            attempted, failed = attempted + 1, failed + (not ok)
        finish_s = time.perf_counter() - t0

        def period_from_medians(value):
            """One period summed from the per-kind medians of ``value``:
            steadier than one period's sum, and the same work on every
            seed."""
            by_kind = {}
            for o in timed_ops:
                if o.ok:
                    by_kind.setdefault(o.kind, []).append(value(o))
            return sum(n * float(np.median(by_kind[k])) if k in by_kind
                       else float("nan") for k, n in per_period.items())

        p50 = {}
        for o in timed_ops:
            if o.ok:
                p50.setdefault(o.kind, []).append(o.wall)
        p50 = {k: float(np.median(v)) for k, v in p50.items()}
        e2e = {
            "setup_s": sum(setup.values()),
            "cycle_s": period_from_medians(lambda o: o.wall),
            "cycle_cpu_s": period_from_medians(lambda o: o.cpu),
            "driver_peak_rss_mb": (_vm_hwm_kb("self") + _vm_hwm_kb(jvm.pid))
            / 1024.0,
        }
        report = {
            "workload": workload, "seed": seed, "seconds": seconds,
            "trace": int(traced), "size": size, "periods": periods,
            "timed_s": elapsed, "finish_s": finish_s,
            "ops": len(timed_ops), "ops_failed_ratio": failed / attempted,
            "setup": setup, "detail": wl.detail(timed_ops),
            "op_p50_by_kind": p50,
            "end_to_end": e2e,
            "env": {
                "master": spark.sparkContext.master,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "nproc": nproc, "spark": spark.version,
                "python": platform.python_version(),
                "inputs_dir": os.path.relpath(tmp, root),
                **SIZES[size], **ctx.info},
        }
        spec_metrics = spec["per_layer" if traced else "end_to_end"]
        if traced:
            values = _aggregate_layers(timed_ops,
                                       [m["name"] for m in spec_metrics])
            report["per_layer"] = values
            # per op, driver self time + job wall is the op wall
            report["identity_max_error_s"] = max(
                (abs(o.layers["driver.self_s"] + o.layers["spark.job_wall_s"]
                     - o.wall) for o in timed_ops), default=0.0)
        else:
            values = e2e
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec_metrics}
    finally:
        if spark is not None:
            spark.stop()
        if jvm is not None:
            jvm.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print("perfbench-report " + json.dumps(report, sort_keys=True),
          file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def smoke(root: str) -> int:
    """Run every workload once, untraced and traced, at the smallest
    size; check that each run passes its checks and emits every metric
    ``BENCHMARK.json`` names, with its unit (end-to-end ones non-zero);
    print the tracing overhead."""
    from perfbench.workloads import WORKLOADS

    spec = load_spec(root)
    bad = []
    for name in WORKLOADS:
        reports = {}
        for traced in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload",
                 name, "--seed", "1", "--seconds", "1", "--trace",
                 str(traced), "--size", "smoke"],
                cwd=root, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else {}
            got = result.get("metrics", {})
            missing = [m["name"] for m in
                       spec["per_layer" if traced else "end_to_end"]
                       if got.get(m["name"], {}).get("unit") != m["unit"]
                       or not (traced or got[m["name"]]["value"] > 0)]
            if proc.returncode or not result.get("correct") or missing:
                bad.append(name)
                print(f"smoke {name} trace={traced}: exit "
                      f"{proc.returncode}, result {result}, missing "
                      f"{missing}\n{proc.stderr[-3000:]}", file=sys.stderr)
            for line in proc.stderr.splitlines():
                if line.startswith("perfbench-report "):
                    reports[traced] = json.loads(line.split(" ", 1)[1])
            print(f"smoke {name} trace={traced}: correct="
                  f"{result.get('correct')} attempted="
                  f"{result.get('attempted')} failed={result.get('failed')}")
        if len(reports) == 2:
            overhead = {k: reports[1]["end_to_end"][k]
                        - reports[0]["end_to_end"][k]
                        for k in reports[0]["end_to_end"]}
            print(f"smoke {name} tracing overhead (traced - untraced): "
                  + json.dumps(overhead))
    print("smoke: " + ("FAILED " + ", ".join(bad) if bad else "ok"))
    return 1 if bad else 0


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at the smallest size")
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"perfbench: no {PKG}/ package in {root}; run from the "
              f"repository root", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke(root)
    if not args.workload:
        ap.error("--workload is required")
    result = run(root, args.workload, args.seed, args.seconds,
                 bool(args.trace), args.size)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    sys.exit(main())
