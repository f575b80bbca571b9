"""Filesystem helpers routed through the Hadoop FileSystem API.

The plans layer needs a handful of tiny control-plane operations —
"does this stage output exist", "list the committed batch manifests",
"write this manifest file last" — and doing them with ``os.path`` only
works on the local filesystem. At the 100 TB deployment scale the
corpus root is an object store (s3a://, abfss://, gs://, hdfs://), so
every existence check and manifest write here resolves the path
through ``org.apache.hadoop.fs.FileSystem`` instead: the same resolver
Spark's own readers and writers use, so any path Spark can read, these
helpers can probe.

All helpers take the live ``SparkSession`` (the Hadoop configuration —
credentials, endpoints, committers — lives on its context). They are
driver-side, O(1)-or-tiny control-plane calls, never data-plane: the
data itself always moves through DataFrame reads/writes.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` under the session's Hadoop conf."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """FS-agnostic ``os.path.exists``."""
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def delete_path(spark: SparkSession, path: str) -> bool:
    """Recursively delete ``path`` if present; True if anything was
    removed. Used only for crash-recovery cleanup of an UNCOMMITTED
    batch's leftovers — committed data is never deleted."""
    fs, p = _fs(spark, path)
    _doc_cache_invalidate(path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, True))


def list_dir(spark: SparkSession, path: str) -> list[str]:
    """Child names (not full paths) of ``path``; [] if it's absent."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(p))


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, p = _fs(spark, path)
    fs.mkdirs(p)


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Atomically-enough publish a small text file: a single
    ``create(overwrite=True)`` + close. On HDFS the file becomes
    visible complete-on-close; on object stores the PUT is atomic.
    This is what makes a write-marker-last commit protocol sound."""
    fs, p = _fs(spark, path)
    _doc_cache_invalidate(path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_text(spark: SparkSession, path: str) -> str:
    fs, p = _fs(spark, path)
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()


# Per-process memo of small control-plane JSON docs (index _meta,
# cellstats stub — r14 VERDICT #6 "what's missing" #4): every probe
# re-read + re-parsed them through py4j (~20-45 ms for a multi-MB
# JSON stats doc), so a repeat box-mode probe paid a constant the
# plain probe didn't. Revalidation is ONE getFileStatus per call —
# any commit flip (write_text_atomic = new file + rename) changes
# (mtime, length), so out-of-band writers are picked up without an
# in-process invalidation hook. The residual staleness window —
# a SAME-LENGTH rewrite within one filesystem-mtime tick (the
# cellstats stub produces exactly that: consecutive version flips
# differ only in the zero-padded digits — r15 ADVICE medium) — is
# closed two ways: every in-process writer/deleter invalidates the
# entry (write-through, below), and a cached entry whose file mtime
# is within _JSON_DOC_RECENT_MS of *now* is re-read rather than
# trusted, because an out-of-process rewrite could still land in the
# same tick. The hot hit path (docs written longer ago than the
# tick window — every steady-state probe) stays one getFileStatus,
# zero reads. LRU-bounded (hits refresh recency — r15 ADVICE low:
# the FIFO eviction dropped the hottest long-lived doc first): tests
# churn thousands of throwaway roots; probes hit the same few.
_JSON_DOC_CACHE: "dict[str, tuple[tuple[int, int], dict]]" = {}
_JSON_DOC_CACHE_MAX = 16
# widest mtime granularity among supported stores (object stores /
# network filesystems round to 1 s) plus slack for clock skew between
# the writer's PUT and the observed mtime tick
_JSON_DOC_RECENT_MS = 2000


def _doc_cache_invalidate(path: str) -> None:
    """Write-through invalidation: every helper that rewrites or
    deletes a path drops its cached doc, so a same-process
    same-tick same-length rewrite can never serve stale."""
    _JSON_DOC_CACHE.pop(path, None)


def read_json_doc(spark: SparkSession, path: str) -> "dict | None":
    """Parsed JSON doc at ``path`` (None if absent), memoized per
    process and revalidated by (mtime, length) — plus a re-read
    instead of a cache hit while the file's mtime is newer than the
    store's mtime-granularity window (see _JSON_DOC_CACHE notes).
    The returned dict is SHARED with the cache — callers must treat
    it as read-only and shallow-copy before annotating
    (plans/cellstats.load_stats does)."""
    import json
    import time

    fs, p = _fs(spark, path)
    try:
        st = fs.getFileStatus(p)
    except Exception:   # Py4JJavaError(FileNotFoundException)
        _JSON_DOC_CACHE.pop(path, None)
        return None
    mtime = int(st.getModificationTime())
    key = (mtime, int(st.getLen()))
    hit = _JSON_DOC_CACHE.get(path)
    if hit is not None and hit[0] == key \
            and time.time() * 1000 - mtime > _JSON_DOC_RECENT_MS:
        # refresh recency so eviction approximates LRU
        _JSON_DOC_CACHE[path] = _JSON_DOC_CACHE.pop(path)
        return hit[1]
    doc = json.loads(read_text(spark, path))
    _JSON_DOC_CACHE.pop(path, None)   # re-insert at the fresh end
    if len(_JSON_DOC_CACHE) >= _JSON_DOC_CACHE_MAX:
        # drop the least-recently-touched entry: the cache exists
        # for repeat probes against a handful of roots
        _JSON_DOC_CACHE.pop(next(iter(_JSON_DOC_CACHE)))
    _JSON_DOC_CACHE[path] = (key, doc)
    return doc


# Filesystems whose rename is an atomic metadata operation. On object
# stores (s3a, gs, abfss) rename is copy+delete — NOT atomic — but
# there the single PUT of a direct create already is, so each scheme
# gets the publish primitive that is actually atomic for it.
_ATOMIC_RENAME_SCHEMES = {"file", "hdfs", "viewfs", "o3fs", "ofs"}


def write_text_atomic(spark: SparkSession, path: str,
                      text: str) -> None:
    """Publish a small text file with no torn-read window, even
    against a crash mid-write:

    - rename-capable filesystems (local, HDFS): write to a ``.tmp-*``
      sibling, then rename into place (overwriting any previous
      version) — a reader never sees a truncated file, which plain
      ``create`` cannot promise on a LOCAL filesystem (ADVICE r7:
      a crash mid-``write_text`` left a truncated manifest that
      poisoned every later ``batches.load_manifests``);
    - object stores: direct :func:`write_text` — the PUT only
      becomes visible complete-on-close, and their rename is the
      non-atomic one.

    Abandoned ``.tmp-*`` siblings from crashed writers are inert (no
    reader matches them) and are swept by ``prune_uncommitted``.
    """
    import uuid

    fs, p = _fs(spark, path)
    if fs.getUri().getScheme() not in _ATOMIC_RENAME_SCHEMES:
        write_text(spark, path, text)
        return
    jvm = spark._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(
        path + ".tmp-" + uuid.uuid4().hex)
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    try:
        # FileContext.rename(…, OVERWRITE): the atomic replace form
        # (FileSystem.rename refuses an existing destination).
        ctx = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            p.toUri(), spark._jsc.hadoopConfiguration())
        opts = spark.sparkContext._gateway.new_array(
            jvm.org.apache.hadoop.fs.Options.Rename, 1)
        opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        ctx.rename(tmp, p, opts)
        _doc_cache_invalidate(path)
    except Exception:
        fs.delete(tmp, False)
        raise


def _is_lost_race(msg: str, lock_path_forms: tuple) -> bool:
    """Classify a failed exclusive create from its exception text:
    True iff it is FileAlreadyExistsException naming the LOCK PATH
    ITSELF (any of its string forms) — a parent-path-is-a-file fault
    names the PARENT, never the full lock path, and any other
    exception class is a genuine IO fault."""
    return ("FileAlreadyExistsException" in msg
            and any(form in msg for form in lock_path_forms))


def create_exclusive(spark: SparkSession, path: str,
                     text: str) -> bool:
    """Create ``path`` with ``overwrite=False`` — the one-winner
    primitive under a lease file (two racing creators: exactly one
    create succeeds). Returns False when the path already exists
    (pre-checked or raced)."""
    fs, p = _fs(spark, path)
    if fs.exists(p):
        return False
    try:
        out = fs.create(p, False)
    except Exception as e:   # noqa: BLE001 — classified below
        # Only a lost RACE means False — and the observables that
        # distinguish it (FS-agnostically, since Hadoop raises
        # FileAlreadyExistsException for unrelated faults too, e.g.
        # parent-path-is-a-file names the PARENT):
        # 1. the lock path still exists — the winner holds it;
        # 2. the exception is FileAlreadyExistsException naming the
        #    LOCK PATH ITSELF — covers the winner creating AND
        #    releasing between our failed create and the exists probe
        #    (ADVICE r9: that window re-raised the race as a bogus
        #    'genuine IO fault' out of corpus_writer_lock instead of
        #    letting the caller retry).
        # Anything else (permissions, connectivity, a parent that is
        # a file — its message names the parent, never the full lock
        # path) re-raises: swallowing it would surface as a bogus
        # ConcurrentWriterError after the caller's retry loop instead
        # of naming the real fault.
        if fs.exists(p):
            return False
        if _is_lost_race(str(e), (str(p), str(p.toUri().getPath()))):
            return False
        raise
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    return True


def dir_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` (0 if absent) — one
    ``getContentSummary`` call, the Hadoop-side `du`."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return 0
    return int(fs.getContentSummary(p).getLength())


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """A byte-size session conf as an int; accepts "128m"-style
    strings."""
    from pyspark.errors import PySparkException

    try:
        v = spark.conf.get(key)
    except PySparkException:
        return default
    try:
        return int(v)
    except ValueError:
        return int(spark._jvm.org.apache.spark.network.util.JavaUtils
                   .byteStringAsBytes(v))


def bytes_partitions(spark: SparkSession, dirs: "list[str]") -> int:
    """Task count for a scan of the data files directly under
    ``dirs`` (names starting with ``_``/``.`` skipped):
    ``ceil((bytes + openCost·files) / maxPartitionBytes)`` from the
    session's ``spark.sql.files.*`` confs — the count Spark's own
    split sizing gives without its per-core floor (``maxSplitBytes``
    is capped at ``total / defaultParallelism``, so a few-MB input
    shatters into one tiny task per core). One ``listStatus`` per
    directory, driver-side, no job; every directory must live on the
    first one's filesystem. 0 when there are no data files (callers
    keep the scan as it is)."""
    if not dirs:
        return 0
    fs, _ = _fs(spark, dirs[0])
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    nbytes = nfiles = 0
    for d in dirs:
        for st in fs.listStatus(jpath(d)):
            if st.isFile() and not st.getPath().getName().startswith(
                    ("_", ".")):
                nbytes += int(st.getLen())
                nfiles += 1
    if not nfiles:
        return 0
    target = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes",
                         128 << 20)
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes",
                            4 << 20)
    return max(1, -(-(nbytes + open_cost * nfiles) // max(1, target)))


def file_mtime_ms(spark: SparkSession, path: str) -> int:
    """Modification time of ``path`` in epoch millis (raises if
    absent) — the lease-staleness clock."""
    fs, p = _fs(spark, path)
    return int(fs.getFileStatus(p).getModificationTime())


def touch_mtime(spark: SparkSession, path: str) -> None:
    """Advance ``path``'s mtime to now (raises if absent) — the lease
    heartbeat: a long-running holder renews between expensive stages
    so an in-TTL observer never reads it as stale."""
    import time

    fs, p = _fs(spark, path)
    fs.setTimes(p, int(time.time() * 1000), -1)
