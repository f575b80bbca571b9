"""Whole-registry physical-plan hygiene: the properties every query
must keep to survive a 100 TB scale-up, asserted mechanically.

- No ``CartesianProduct`` anywhere: every pairwise workload must go
  through an equi-join (bucketed/banded candidates) or an explicit
  tiny-side broadcast.
- No row-at-a-time Python (``BatchEvalPython`` / ``PythonUDF``): the
  only Python allowed in any registered plan is Arrow-vectorized
  (mapInPandas / ArrowEvalPython), and the relational queries use
  none at all.
- ``BroadcastNestedLoopJoin`` only where a *deliberate* one-row or
  constant-size side is broadcast (query vector, corpus-size scalar,
  single-row stats join) — growing that
  whitelist requires justifying the new crossJoin's scale story here.
"""

from __future__ import annotations

import pytest

from light_redistribution_in_3dptf_data_pipeline_spark.queries import QUERIES

from conftest import SF_DIR

# Queries whose plan legitimately contains BroadcastNestedLoopJoin:
# every entry broadcasts a side that is one row or constant-size by
# construction, so the "nested loop" is a scalar attach, not a scan
# of a second big input.
BNLJ_OK = {
    "tx9_tfidf_vocab",               # one-row corpus-size scalar
    "sim1_sim2_cosine_topk",         # one-row query vector
    "sim3_sim4_ivf_train_assign",    # one-row query vector / L centroids
    "sx1_sx2_ann_lsh_topk",          # one-row query vector
    "sx3_ivf_probe_topk",            # one-row query vector / L centroids
    "a4_a6_a7_a8_a9_a11_stats",      # one-row x one-row stats joins
}

BANNED_EVERYWHERE = ("CartesianProduct", "BatchEvalPython", "PythonUDF(")


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_hygiene(name, spark):
    plan = (QUERIES[name].builder(spark, SF_DIR)
            ._jdf.queryExecution().executedPlan().toString())
    for marker in BANNED_EVERYWHERE:
        assert marker not in plan, f"{name}: banned node {marker}"
    if name not in BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unexpected BroadcastNestedLoopJoin — if the "
            "crossJoin is a deliberate tiny-side broadcast, add the "
            "query to BNLJ_OK with its scale justification")


def _plan(name, spark):
    return (QUERIES[name].builder(spark, SF_DIR)
            ._jdf.queryExecution().executedPlan().toString())


def test_sim5_is_map_only(spark):
    """int8 quantization must stay a pure map stage: the only allowed
    'shuffle' is the final presentation sort — no aggregation or join
    exchange may creep in (at 100 TB this query is a single pass)."""
    plan = _plan("sim5_quantize_int8", spark)
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    # exactly one Exchange: the rangepartitioning of the output sort
    import re
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e == "rangepartitioning" for e in exchanges), exchanges


def test_dx5_has_no_allpairs_join(spark):
    """The verified-LSH decision must keep the O(N·bands) bucket-join
    shape: every join is an equi-join (SortMerge/BroadcastHash), and
    the shingle side never self-joins without the band/bucket key."""
    plan = _plan("dx5_lsh_neardup_decision", spark)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sx3_probe_is_broadcast_pruned(spark):
    """IVF probe: the nprobe cell filter must reach the candidate scan
    as a broadcast join (the partition-pruning analog), never a
    shuffle of the full corpus against 2 cell ids."""
    plan = _plan("sx3_ivf_probe_topk", spark)
    assert ("BroadcastHashJoin" in plan) or ("BroadcastExchange" in plan)


# Operator counts of the four probe shapes the benchmark runs, over a
# bench-shaped pair of roots (J=8 LSH, frozen-quantizer IVF): the
# posting-index core must build exactly these plans.
PROBE_PLAN_COUNTS = {
    "ann_single_h2": {"exchange": 0, "broadcast": 0, "scans": 1,
                      "partition_filters": 1},
    "ivf_single": {"exchange": 0, "broadcast": 0, "scans": 1,
                   "partition_filters": 1},
    "ann_batch32": {"exchange": 1, "broadcast": 2, "scans": 3,
                    "partition_filters": 1},
    "ivf_batch32": {"exchange": 1, "broadcast": 1, "scans": 2,
                    "partition_filters": 1},
}


def _op_counts(plan: str) -> dict:
    import re

    return {
        "exchange": len(re.findall(r"(?<![A-Za-z])Exchange ", plan)),
        "broadcast": plan.count("BroadcastExchange "),
        "scans": len(re.findall(
            r"FileScan \w+|Scan ExistingRDD|LocalTableScan", plan)),
        "partition_filters": len(re.findall(
            r"PartitionFilters: \[[^\]]", plan)),
    }


def test_probe_plan_operator_counts(spark, tmp_path):
    from pyspark.sql import functions as F

    from light_redistribution_in_3dptf_data_pipeline_spark.catalog import (
        load_table)
    from light_redistribution_in_3dptf_data_pipeline_spark.plans import (
        ann_index as A, ivf_index as I)

    emb = load_table(spark, SF_DIR, "embeddings")
    ann, ivf = str(tmp_path / "ann"), str(tmp_path / "ivf")
    I.init_ivf_index(spark, ivf, emb)
    A.ann_ingest_delta(spark, ann, emb, "base")
    I.ivf_ingest_delta(spark, ivf, emb.drop("label"), "base")
    qsrc = str(tmp_path / "queries.parquet")
    (emb.filter("vec_id % 15 = 0").limit(32)
     .select(F.col("vec_id").alias("qid"), "embedding")
     .write.parquet(qsrc))
    queries = spark.read.parquet(qsrc)
    qv = [float(x) for x in emb.filter("vec_id = 7")
          .select("embedding").head()[0]]
    probes = {
        "ann_single_h2": A.ann_incremental_topk(
            spark, ann, qv, exclude_id=7, hamming=2),
        "ivf_single": I.ivf_incremental_topk(spark, ivf, qv,
                                             exclude_id=7),
        "ann_batch32": A.ann_batch_topk(spark, ann, queries, hamming=2),
        "ivf_batch32": I.ivf_batch_topk(spark, ivf, queries),
    }
    got = {name: _op_counts(df._jdf.queryExecution().executedPlan()
                            .toString())
           for name, df in probes.items()}
    assert got == PROBE_PLAN_COUNTS


def test_no_private_protocol_imports():
    """The batch-commit protocol's helpers have one owner
    (plans/batches.py) and a public surface: no module under
    ``plans/`` or ``streaming/`` imports an underscore name from
    ``plans.corpus`` or ``plans.batches``, nor reaches one through a
    module alias of either."""
    import ast
    import pathlib

    import light_redistribution_in_3dptf_data_pipeline_spark as pkg

    owners = {"corpus", "batches"}
    base = pathlib.Path(pkg.__file__).parent
    bad = []
    for path in sorted([*base.glob("plans/*.py"),
                        *base.glob("streaming/*.py")]):
        tree = ast.parse(path.read_text())
        aliases = set()
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom):
                continue
            mod = node.module or ""
            if mod.rsplit(".", 1)[-1] in owners:
                bad += [f"{path.name}: {a.name}" for a in node.names
                        if a.name.startswith("_")]
            elif mod in ("", "plans") or mod.endswith(".plans"):
                aliases |= {a.asname or a.name for a in node.names
                            if a.name in owners}
        bad += [f"{path.name}: {n.value.id}.{n.attr}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Attribute)
                and isinstance(n.value, ast.Name)
                and n.value.id in aliases and n.attr.startswith("_")]
    assert bad == []
