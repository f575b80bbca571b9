"""Hadoop FileSystem control-plane helpers: round-trips and edge
cases on the local FS (the same code path resolves s3a/hdfs/abfss
URIs through the session's Hadoop configuration)."""

from __future__ import annotations

import os

from light_redistribution_in_3dptf_data_pipeline_spark import fs


def test_text_roundtrip_and_overwrite(spark, tmp_path):
    p = str(tmp_path / "nested" / "m.json")
    assert not fs.path_exists(spark, p)
    fs.write_text(spark, p, '{"a": 1}')
    assert fs.path_exists(spark, p)
    assert fs.read_text(spark, p) == '{"a": 1}'
    fs.write_text(spark, p, "v2 — unicode ✓")
    assert fs.read_text(spark, p) == "v2 — unicode ✓"


def test_list_dir_sorted_and_missing(spark, tmp_path):
    d = str(tmp_path / "d")
    for name in ("b.json", "a.json", "c.txt"):
        fs.write_text(spark, f"{d}/{name}", "x")
    assert fs.list_dir(spark, d) == ["a.json", "b.json", "c.txt"]
    assert fs.list_dir(spark, str(tmp_path / "missing")) == []


def test_delete_recursive_and_idempotent(spark, tmp_path):
    d = str(tmp_path / "tree")
    fs.write_text(spark, f"{d}/sub/x.txt", "x")
    assert fs.delete_path(spark, d) is True
    assert not os.path.exists(d)
    assert fs.delete_path(spark, d) is False  # already gone: no error


def test_mkdirs(spark, tmp_path):
    d = str(tmp_path / "a" / "b" / "c")
    fs.mkdirs(spark, d)
    assert fs.path_exists(spark, d) and os.path.isdir(d)


def test_write_text_atomic_fresh_and_replace(spark, tmp_path):
    p = str(tmp_path / "snap" / "s.json")
    fs.write_text_atomic(spark, p, "v1")
    assert fs.read_text(spark, p) == "v1"
    fs.write_text_atomic(spark, p, "v2 — replaced in place")
    assert fs.read_text(spark, p) == "v2 — replaced in place"
    # no .tmp-* droppings after successful publishes
    leftovers = [n for n in fs.list_dir(spark, str(tmp_path / "snap"))
                 if ".tmp-" in n]
    assert leftovers == []


def test_create_exclusive_single_winner(spark, tmp_path):
    p = str(tmp_path / "_lock")
    assert fs.create_exclusive(spark, p, "owner-a") is True
    assert fs.read_text(spark, p) == "owner-a"
    # second creator loses and does not clobber the holder's content
    assert fs.create_exclusive(spark, p, "owner-b") is False
    assert fs.read_text(spark, p) == "owner-a"


def test_create_exclusive_reraises_real_io_errors(spark, tmp_path):
    """ADVICE r8: only the already-exists failure means "lost the
    race" — a genuine IO fault (here: the parent path is a FILE) must
    surface as itself, not be misreported as a lost lease."""
    import pytest

    parent = tmp_path / "afile"
    parent.write_text("x")
    with pytest.raises(Exception) as ei:
        fs.create_exclusive(spark, str(parent / "child"), "t")
    assert "already exists" not in str(ei.value).lower()


def test_file_mtime_ms(spark, tmp_path):
    p = str(tmp_path / "t.txt")
    fs.write_text(spark, p, "x")
    got = fs.file_mtime_ms(spark, p)
    assert abs(got / 1000 - os.path.getmtime(p)) < 2
    # aging the file backdates the reported mtime (the lease clock)
    os.utime(p, (0, 12345))
    assert fs.file_mtime_ms(spark, p) == 12345_000


def test_lost_race_classifier(spark, tmp_path):
    """ADVICE r9: a racing winner that creates AND releases the lock
    between our failed create and the exists probe used to re-raise
    as a 'genuine IO fault'. The classifier treats
    FileAlreadyExistsException NAMING THE LOCK PATH as a lost race
    even when the path no longer exists — while a
    parent-path-is-a-file fault (which names the PARENT, not the
    lock) still re-raises."""
    lock = "/data/root/_lock"
    forms = (f"file:{lock}", lock)
    # the won-and-released race: exception names the lock itself
    assert fs._is_lost_race(
        "org.apache.hadoop.fs.FileAlreadyExistsException: "
        f"File already exists: file:{lock}", forms) is True
    # parent-is-a-file: message names the parent only → genuine fault
    assert fs._is_lost_race(
        "org.apache.hadoop.fs.FileAlreadyExistsException: "
        "Parent path is not a directory: /data/root", forms) is False
    # any other exception class → genuine fault
    assert fs._is_lost_race(
        f"java.io.IOException: Permission denied: file:{lock}",
        forms) is False

    # end-to-end: parent-is-a-file still re-raises through
    # create_exclusive (the classifier must not swallow it)
    parent = tmp_path / "afile"
    parent.write_text("x")
    import pytest
    with pytest.raises(Exception):
        fs.create_exclusive(spark, str(parent / "child"), "t")


def test_probe_scan_partitions_by_bytes(spark, tmp_path):
    """The key-scoped probe scan (``batches.visible_scan_keys``) is
    coalesced to ceil((bytes + openCost·files) / maxPartitionBytes)
    over its selected leaf files (``fs.bytes_partitions``), counted
    here independently from the local directory tree."""
    from pyspark.sql import functions as F

    from light_redistribution_in_3dptf_data_pipeline_spark.plans.batches import (
        visible_scan_keys)

    path = str(tmp_path / "postings")
    (spark.range(0, 4000, 1, 4)
     .select("id", (F.col("id") % 3).alias("cell"),
             F.when(F.col("id") < 2000, "b0").otherwise("b1")
             .alias("batch_id"))
     .write.partitionBy("batch_id", "cell").parquet(path))
    schema = "id BIGINT, cell BIGINT, batch_id STRING"
    leaves = [os.path.join(path, f"batch_id={b}", f"cell={c}")
              for b in ("b0", "b1") for c in (0, 2)]
    files = [os.path.join(d, f) for d in leaves for f in os.listdir(d)
             if not f.startswith(("_", "."))]
    nbytes = sum(os.path.getsize(f) for f in files)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "3000")
    spark.conf.set("spark.sql.files.openCostInBytes", "100")
    try:
        df = visible_scan_keys(spark, path, ["b0", "b1"], schema,
                                "cell", [0, 2])
        want = -(-(nbytes + 100 * len(files)) // 3000)
        assert 1 < want < len(files)
        assert df.rdd.getNumPartitions() == want
        assert fs.bytes_partitions(spark, leaves) == want
        assert df.count() == sum(1 for i in range(4000) if i % 3 != 1)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
        spark.conf.unset("spark.sql.files.openCostInBytes")
    os.makedirs(tmp_path / "empty")
    assert fs.bytes_partitions(spark, [str(tmp_path / "empty")]) == 0
