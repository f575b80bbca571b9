"""The runtime profile ``session.get_spark`` gives the processes it
launches: the driver JVM's tier-4 (C2) thresholds, and Python workers
forked from ``worker_daemon``, which re-reads a zip archive on the
worker path only when the archive changed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from light_redistribution_in_3dptf_data_pipeline_spark import session
from light_redistribution_in_3dptf_data_pipeline_spark import (
    worker_daemon as wd)

# the JDK 17 defaults x4
TIER4_FLAGS = ["-XX:Tier4InvocationThreshold=20000",
               "-XX:Tier4MinInvocationThreshold=2400",
               "-XX:Tier4CompileThreshold=60000",
               "-XX:Tier4BackEdgeThreshold=160000"]


def test_driver_jvm_runs_the_tier4_thresholds(spark):
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(mx.getRuntimeMXBean().getInputArguments())
    assert [a for a in args if a.startswith("-XX:Tier4")] == TIER4_FLAGS
    assert "-XX:TieredStopAtLevel=1" not in args   # C2 stays on


def test_python_workers_run_the_guarded_invalidate(spark):
    def report(it):
        import os
        import sys
        import zipimport

        import pandas as pd

        main = sys.modules["__main__"]
        guard = zipimport.zipimporter.invalidate_caches
        for _ in it:
            yield pd.DataFrame({
                "daemon": [main.__spec__.name if main.__spec__ else ""],
                "guard": [f"{guard.__module__}.{guard.__qualname__}"],
                "stamped": [",".join(sorted(
                    os.path.basename(p)
                    for p in getattr(main, "_stamps", {})))]})

    rows = (spark.range(0, 2, 1, 2)
            .mapInPandas(report, "daemon string, guard string, "
                                 "stamped string").collect())
    assert {r.daemon for r in rows} == {session.WORKER_DAEMON}
    assert {r.guard for r in rows} == {"__main__.invalidate_if_changed"}
    # Spark's archives were stamped at daemon start, before any fork
    assert all("pyspark.zip" in r.stamped.split(",") for r in rows)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_archive_reread_only_when_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, ["rtprof_first"])
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("rtprof_first").NAME == "rtprof_first"
    monkeypatch.delitem(sys.modules, "rtprof_first")
    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or stock_read(p))
    importlib.invalidate_caches()
    assert reads.count(archive) == 1   # the stock importer re-reads

    # restored on teardown
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(wd, "_stamps", {})
    wd.install()
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads        # unchanged: never re-read

    stat = os.stat(archive)
    _write_zip(archive, ["rtprof_first", "rtprof_second"])
    assert os.stat(archive).st_size != stat.st_size
    importlib.invalidate_caches()
    assert reads.count(archive) == 1   # rewritten: re-read once
    mod = importlib.import_module("rtprof_second")
    monkeypatch.delitem(sys.modules, "rtprof_second")
    assert mod.NAME == "rtprof_second"
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
