"""SparkSession construction + scale-oriented config profile.

The reference (esdb/lstore) is an embedded single-node log store; its only
physical optimizations are block skipping via per-block bloom filters and
int min/max summaries (SURVEY.md §4.1).  On Spark those are free
(parquet row-group stats, bloom filters, predicate pushdown), so this
module's job is the *cluster-scale* config profile:

- AQE on (runtime coalesce / skew-join splitting / join re-planning),
- Arrow for any Python<->JVM data movement (pandas UDFs),
- broadcast threshold sized so dimension tables broadcast,
- shuffle partitions sized to cores locally (on a real cluster this is
  overridden by AQE coalescing from a higher initial number),
- the package shipped to the executors' Python workers as a zip, so UDFs
  and data sources import it whatever the workers' PYTHONPATH and cwd.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark.sql import SparkSession

# Runtime (dynamic) confs we also re-apply to externally-created sessions —
# the driver constructs its own SparkSession, so anything correctness-
# critical must be settable at runtime, not only at builder time.
_RUNTIME_CONFS = {
    # events.parquet stores ts as INT64 TIMESTAMP(NANOS) which Spark cannot
    # read natively (PARQUET_TYPE_ILLEGAL); read it as raw nanos long.
    # DuckDB 1.0 reads the same column truncated to micros, so the catalog
    # derives `ts = timestamp_micros(ts_ns div 1000)` for exact parity.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Oracle parity: naive timestamps everywhere, no local-zone surprises.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables (region/nation/customer/supplier/part at any SF that
    # fits) should broadcast; 64 MiB is a safe executor-memory fraction.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet scan efficiency: pushdown + row-group skipping analogous to
    # lstore's indexed-segment block skipping (SURVEY.md §4.2).
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # The bucketed orderkey layout (catalog.build_bucket_layout) writes
    # exactly one sorted file per bucket, so scans of it can report the
    # bucket sort order and the fact⋈fact merge joins compile with zero
    # SORTS as well as zero exchanges (r13).  Spark gates this behind a
    # legacy flag because multi-file buckets would need a per-plan file
    # count check — with >1 file in any selected bucket it safely
    # reports no ordering, so correctness is unaffected either way.
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}

# Shuffle width: AQE coalesces batch plans at runtime, but STREAMING
# state shuffles have no AQE — an externally-created session at the
# stock 200 partitions spins 200 state-store tasks per micro-batch
# (measured 14.2 s → 2.1 s for the applyInPandasWithState key on the
# driver's plain session).  Handled OUTSIDE _RUNTIME_CONFS: tune()
# replaces only the STOCK default, so a width chosen deliberately — a
# get_spark(shuffle_partitions=8) test session, a cluster profile at
# 2-3× total cores — is never clobbered (review r11: the old dict entry
# silently overrode the get_spark parameter and every conftest session
# actually ran at 32).
_STOCK_SHUFFLE = "200"


def _package_zip() -> str:
    """The package as a zip in the temp dir, named by a hash of its
    sources: the path is host-wide, so a second checkout shipping at the
    same time gets its own zip instead of replacing this one under a
    running application.  Built under a unique name and published by
    atomic rename, so a half-written zip is never visible; an existing
    zip under the name already holds these sources."""
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    repo = os.path.dirname(pkg_root)
    files = []
    for dirpath, _dirnames, filenames in os.walk(pkg_root):
        if "__pycache__" in dirpath:
            continue
        for fn in filenames:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as fh:
                    files.append((os.path.relpath(full, repo), fh.read()))
    files.sort()
    digest = hashlib.sha256()
    for rel, data in files:
        digest.update(b"%s\0%d\0%s" % (rel.encode(), len(data), data))
    zpath = os.path.join(tempfile.gettempdir(),
                         f"lstore_spark_pkg-{digest.hexdigest()[:16]}.zip")
    if os.path.exists(zpath):
        return zpath
    fd, tmp = tempfile.mkstemp(suffix=".zip", dir=tempfile.gettempdir())
    os.close(fd)
    with zipfile.ZipFile(tmp, "w") as z:
        for rel, data in files:
            z.writestr(rel, data)
    os.replace(tmp, zpath)
    return zpath


_SHIPPED_APPS: set = set()  # applicationIds this process shipped the zip to


def ship_package(spark: SparkSession) -> None:
    """Ship the package zip to the executors at most once per Spark
    application (review r12: rebuilding + re-shipping the identical zip
    paid an os.walk + zip + addPyFile per query).  The memo keys on
    applicationId — stable for the context's lifetime, fresh after a
    restart.  ``tune()`` calls it, so every UDF-bearing key finds the
    package in its Python workers; the Python data sources' ``register()``
    call it too."""
    app = spark.sparkContext.applicationId
    if app not in _SHIPPED_APPS:
        spark.sparkContext.addPyFile(_package_zip())  # workers import this
        _SHIPPED_APPS.add(app)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (e.g. the driver's) and
    ship the package to its executors."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static conf on this build / read-only — keep going; every
            # critical conf above is dynamic on Spark 4.1.
            pass
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == _STOCK_SHUFFLE:
            spark.conf.set("spark.sql.shuffle.partitions",
                           os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    except Exception:
        pass
    ship_package(spark)
    return spark


def get_spark(app_name: str = "lstore-spark", cpus: str | int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build the engine's SparkSession (local mode; cluster-shaped confs).

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, else all cores.  At 100 TB the
    same profile applies with master handled by the cluster manager and
    ``spark.sql.shuffle.partitions`` raised to ~2-3x total cores (AQE
    coalesces the excess at runtime).
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    # The shuffle width goes into the builder (and the post-tune()
    # re-assert) only when this call CREATES the session or the caller
    # chose a width explicitly: getOrCreate() applies builder configs
    # to a PRE-EXISTING session too, so a later default-args
    # get_spark() would silently rewrite the live session's deliberate
    # width to the default 32 (review r13 — the same clobber class
    # tune()'s stock-vs-deliberate heuristic fixed in r11).
    explicit = (shuffle_partitions is not None
                or "SPARK_GRAFT_SHUFFLE" in os.environ)
    pre_existing = SparkSession.getActiveSession() is not None
    set_width = explicit or not pre_existing
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    if set_width:
        b = b.config("spark.sql.shuffle.partitions", str(n_shuffle))
    for k, v in _RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = tune(b.getOrCreate())
    # Re-assert the chosen width AFTER tune(): its stock-vs-deliberate
    # heuristic cannot distinguish a deliberate 200 from the stock 200
    # and would clobber exactly that one value (review r13) — here the
    # width is deliberate whenever set_width holds.
    if set_width:
        try:
            spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
        except Exception:
            pass
    return spark


def cache_zip_directories() -> None:
    """Make ``importlib.invalidate_caches()`` re-read a zip archive's
    directory only when the archive changed.

    pyspark's worker calls ``importlib.invalidate_caches()`` before every
    planner call and every task (``worker_util.setup_spark_files``).
    Before Python 3.13, ``zipimporter.invalidate_caches`` eagerly re-reads
    the whole central directory of its archive, once per zipimporter: a
    worker holds 16 of them over ``pyspark.zip``, the py4j zip and the
    spark-core jar, and re-reading them cost 117–224 ms per call, about
    the whole round trip of a 1-row lstore_log planner call.  Here an
    archive is re-read only when its ``(st_mtime_ns, st_size, st_ino)``
    differs from the last read by any zipimporter, so a replaced or
    rewritten archive is still seen; otherwise that read's directory is
    reused.  If ``stat`` fails, or the archive did not read, the original
    method runs.  Installing twice is a no-op; on Python 3.13+, which
    reads lazily, so is installing once.

    The package's ``__init__`` installs it, so every Python worker that
    has unpickled package code skips the re-read from its next call on."""
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(original, "_read_by_identity"):
        return
    last_read: dict = {}  # archive -> (identity, directory)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return original(self)
        identity = (st.st_mtime_ns, st.st_size, st.st_ino)
        seen = last_read.get(self.archive)
        if seen is not None and seen[0] == identity:
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        # stat before the read: an archive replaced in between is read
        # again next time, never cached under its new identity
        original(self)
        if zipimport._zip_directory_cache.get(self.archive) is self._files:
            last_read[self.archive] = (identity, self._files)

    invalidate_caches._read_by_identity = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
