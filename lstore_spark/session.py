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

import os
import tempfile
import zipfile

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
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    repo = os.path.dirname(pkg_root)
    zpath = os.path.join(tempfile.gettempdir(), "lstore_spark_pkg.zip")
    # build under a unique name, publish by atomic rename: concurrent
    # sessions (driver sweep + bench) may ship at once, and a
    # half-written zip must never be visible under the shared path —
    # same tmp+rename discipline as the segment sink.
    fd, tmp = tempfile.mkstemp(suffix=".zip", dir=tempfile.gettempdir())
    os.close(fd)
    with zipfile.ZipFile(tmp, "w") as z:
        for dirpath, _dirnames, filenames in os.walk(pkg_root):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, repo))
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
