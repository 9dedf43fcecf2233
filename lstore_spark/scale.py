"""100 TB scale toolkit (SURVEY.md §7 Phase 5).

The test corpus is small, but every helper here changes the *plan shape*
in a way that is verifiable locally and decisive at cluster scale:

- ``salted_join``   — splits skewed join keys across N salt buckets so no
  single task receives a pathological key's entire row set.  (AQE's skew
  split handles moderate skew at runtime; salting is the deterministic
  fallback for extreme single-key skew, e.g. one user with 10^9 events.)
- ``write_events_partitioned`` — the lstore retention/segment model at
  scale: date-partitioned parquet (read back with ``spark.read.parquet``),
  sorted within files, bloom-filtered on the point-lookup column.
  Partition pruning == dropping whole segments; row-group stats == block
  skipping.  ``compact_store`` rewrites it, ``purge_before`` expires it.

The co-located bucketed layout for the recurring fact⋈fact join
(lineitem⋈orders) is not here: ``catalog.build_bucket_layout`` is its
one writer, and routed keys read it through ``catalog.routed_tables``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_join(skewed: DataFrame, other: DataFrame, key: str,
                n_salts: int = 16, how: str = "inner") -> DataFrame:
    """Equi join resilient to heavy key skew on ``skewed``.

    The skewed side gets a deterministic salt in [0, n_salts) derived from
    a hash of the whole row (xxhash64 — no nondeterministic rand(), so
    retries/speculative tasks agree); the other side replicates each row
    across all salts.  Join key becomes (key, salt): a key holding p% of
    all rows now spreads over n_salts tasks.

    Caveat (review r13): determinism-under-retry and spreading
    byte-identical rows are mutually exclusive — ANY deterministic
    function maps exact-duplicate rows to one salt.  Keep a
    high-cardinality column (an offset/id) in the skewed projection so
    the hot key's rows differ; a projection reduced to (key, attr)
    with massive duplication re-concentrates into one bucket and
    should pre-aggregate the duplicates instead of salting them.

    Cost: ``other`` inflates ×n_salts — use with a dimension-sized right
    side, or AQE skew-join for fact⋈fact.

    Only inner/left/semi/anti joins are supported: in a right or full
    join every unmatched ``other`` row would surface once per salt
    replica (n_salts duplicates), so those modes are rejected.
    """
    # Explicit membership over every Spark alias — 'outer' alone is a
    # full-outer alias and must be rejected too (ADVICE r1).
    if how.lower().replace("_", "") in {
            "outer", "full", "fullouter", "right", "rightouter"}:
        raise ValueError(
            f"salted_join does not support how={how!r}: unmatched rows of "
            "the replicated side would appear once per salt")
    all_cols = [F.col(c) for c in skewed.columns]
    s = skewed.withColumn(
        "_salt", F.pmod(F.xxhash64(*all_cols), F.lit(n_salts)).cast("int"))
    o = other.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    joined = s.join(o, [key, "_salt"], how)
    return joined.drop("_salt")


def events_with_day(df: DataFrame) -> DataFrame:
    return df.withColumn("day", F.col("ts").cast("date"))


def write_events_partitioned(events: DataFrame, path: str) -> None:
    """Persist the event log the way lstore lays out segments, but
    cluster-shaped: one partition dir per day (retention = drop dirs;
    pruning = skip dirs), files sorted by ts so row-group min/max stats
    skip blocks inside a day, bloom filter on event_type for point
    predicates (the pbloom analog)."""
    (
        events_with_day(events)
        .repartition("day")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        # global enable + adaptive sizing: this runtime's parquet-hadoop
        # 1.16 silently ignores the per-column 'enabled#<col>' form
        # (review r10, measured byte-identical output in sinks.py —
        # same trap here); the global+adaptive pair demonstrably writes
        # right-sized bitsets, covering event_type among the data cols
        .option("parquet.bloom.filter.enabled", "true")
        .option("parquet.bloom.filter.adaptive.enabled", "true")
        .partitionBy("day")
        .parquet(path)
    )


def plan_compaction(path: str, target_bytes: int = 128 << 20) -> dict[str, int]:
    """Bin-packing plan for a date-partitioned store: per day-partition,
    the target file count = ceil(bytes / target_bytes) (never 0).  Pure
    metadata pass — a directory listing, O(#partitions) driver-side work;
    at 100 TB this reads the table manifest/catalog, never data."""
    import math

    base = path.removeprefix("file:")
    plan: dict[str, int] = {}
    for entry in sorted(os.listdir(base)):
        if not entry.startswith("day="):
            continue
        pdir = os.path.join(base, entry)
        size = sum(os.path.getsize(os.path.join(pdir, f))
                   for f in os.listdir(pdir) if f.endswith(".parquet"))
        plan[entry[4:]] = max(1, math.ceil(size / target_bytes))
    return plan


def compact_store(spark: SparkSession, path: str,
                  target_bytes: int = 128 << 20,
                  out: str | None = None) -> tuple[str, dict[str, int]]:
    """OPTIMIZE-style whole-store compaction (the lstore indexer's
    raw→indexed rewrite, VERDICT r4 item 4): bin-pack every day
    partition's small files into ~``target_bytes`` outputs in ONE shuffle
    job — cost does not grow a Spark job per partition.

    Mechanics: the plan above fixes a per-day target count n_d; each row
    gets a deterministic salt in [0, n_d) (xxhash64 of event_id — stable
    under task retry), and one ``repartition(Σn_d × 2, day, salt)``
    shuffle routes each output file's rows to exactly one writer task
    (the ×2 headroom keeps independent (day, salt) cells from colliding
    into the same task and merging files past the size target).  Files
    are ts-sorted so row-group min/max stats stay tight after the
    rewrite.  Returns ``(out_dir, plan)``."""
    plan = plan_compaction(path, target_bytes)
    out = out or path.rstrip("/") + "_compacted"
    df = spark.read.parquet(path)
    pairs = [x for kv in plan.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    # NULL-day rows live under __HIVE_DEFAULT_PARTITION__ in the plan
    # but read back as day IS NULL — a raw cast lookup returned NULL,
    # NULLed the salt, and collapsed the whole NULL-day partition into
    # one oversized writer cell regardless of its planned count
    # (review r13; purge_before r12 handles the same dir name)
    day_key = F.coalesce(F.col("day").cast("string"),
                         F.lit("__HIVE_DEFAULT_PARTITION__"))
    n_tgt = F.create_map(*pairs)[day_key]
    total = sum(plan.values())
    (
        df.withColumn("__salt", F.pmod(F.xxhash64("event_id"), n_tgt))
        .repartition(max(2 * total, 1), F.col("day"), F.col("__salt"))
        .drop("__salt")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        # keep the store's bloom filters: a plain rewrite strips the
        # pbloom analog, costing point predicates their block skipping
        .option("parquet.bloom.filter.enabled", "true")
        .option("parquet.bloom.filter.adaptive.enabled", "true")
        .partitionBy("day")
        .parquet(out)
    )
    return out, plan


def purge_before(spark: SparkSession, path: str, cutoff_day: str) -> int:
    """Retention: drop event partitions older than ``cutoff_day`` — the
    lstore remover (expired head segments are deleted whole; SURVEY.md
    §1.1).  Partition-dir deletion is O(#partitions) metadata work, never
    a data scan; returns the number of partitions dropped."""
    import shutil

    base = path.removeprefix("file:")
    dropped = 0
    for entry in sorted(os.listdir(base)):
        if entry.startswith("day=") and (
                entry[4:] < cutoff_day
                or entry[4:] == "__HIVE_DEFAULT_PARTITION__"):
            # the NULL-day partition sorts lexically ABOVE every ISO
            # date ('_' > '9') so the < compare never dropped it, while
            # the retention predicate CAST(ts AS DATE) >= cutoff is
            # NULL for NULL ts — a NULL-ts row must purge with the
            # expired data, not survive forever (review r12)
            shutil.rmtree(os.path.join(base, entry))
            dropped += 1
    return dropped


def global_row_number(df: DataFrame, order: list, alias: str = "pos",
                      n_partitions: int | None = None) -> DataFrame:
    """Total-order ROW_NUMBER without the single-task global window
    (review r11: the naive ``Window.orderBy`` serializes the WHOLE
    relation into one task — fine for fixed dims, a scale disease for
    SF-scaled inputs).  Mechanics: a range exchange on the order key
    (the same sampled-boundary machinery as a global ORDER BY), a
    row_number WITHIN each range partition, and broadcast cumulative
    partition offsets added back.  The result is invariant to where the
    sampled boundaries land because the order is TOTAL — callers must
    include a unique tie-break column.  Cost: ONE parallel exchange +
    one |partitions|-row aggregate, instead of one serial full sort.

    r13: in-partition positions come from ``monotonically_increasing_id``
    over the range-partitioned, in-partition-sorted relation — NOT from
    a ``Window.partitionBy(_pid)``.  Spark cannot prove the range
    exchange's layout satisfies a hash-on-_pid window requirement, so
    the window form paid a SECOND full-data Exchange (plan-measured:
    rangepartitioning + hashpartitioning(_pid) back to back) plus the
    window buffer.  The id form is narrow: after
    ``sortWithinPartitions`` the row order is deterministic (the order
    is total), ids are assigned in that order per partition
    (pid·2³³ + offset), so ``_pid = id >> 33`` and
    ``_r = (id & (2³³−1)) + 1`` reproduce the window's row_number
    exactly — including under task retry, which re-sorts to the same
    sequence.  Bound: < 2³³ (~8.6B) rows per range partition, far past
    any sane partition sizing."""
    from pyspark.sql import Window

    spark = df.sparkSession
    n = n_partitions or spark.sparkContext.defaultParallelism
    from .registry import pin

    ranged = (df.repartitionByRange(n, *order)
              .sortWithinPartitions(*order)
              .withColumn("_mid", F.monotonically_increasing_id()))
    # pinned: the offsets aggregate AND the result projection both read
    # this relation, and Spark does no CSE across branches — unpinned,
    # the range exchange + sort would run twice
    local = pin(ranged
                .withColumn("_pid", F.shiftright("_mid", 33).cast("int"))
                .withColumn("_r", (F.col("_mid")
                                   .bitwiseAND(F.lit((1 << 33) - 1))
                                   + F.lit(1)).cast("long"))
                .drop("_mid"))
    # offsets: |partitions| rows — the only global window, bounded.
    # Self-verifying decode (ADVICE r13): positions rely on the id bit
    # layout (pid<<33 | counter); a range partition past 2^33 rows — or
    # any upstream drift in the encoding — would silently corrupt
    # positions.  The aggregate already scans per-_pid, so max(_r)
    # rides along free and the plan FAILS LOUDLY unless the partition's
    # max in-partition rank equals its row count (exactly the
    # contiguous-counter invariant the decode needs).
    w_off = (Window.orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = (local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"),
                                      F.max("_r").alias("_mx"))
            .withColumn(
                "_off",
                F.when(F.col("_mx") == F.col("_n"),
                       F.coalesce(F.sum("_n").over(w_off), F.lit(0)))
                .otherwise(F.raise_error(F.concat(
                    F.lit("global_row_number: id-decode invariant "
                          "violated (max in-partition rank "),
                    F.col("_mx"), F.lit(" != row count "), F.col("_n"),
                    F.lit(" in range partition "), F.col("_pid"),
                    F.lit(") — partition exceeds 2^33 rows or the "
                          "monotonically_increasing_id layout "
                          "changed")))))
            .select("_pid", "_off"))
    return (local.join(F.broadcast(offs), "_pid")
            # long, not int: the callers route through here precisely
            # because their relations scale with SF, and a 15B-row rank
            # overflows int32 (ANSI CAST_OVERFLOW at 100 TB — or silent
            # negative positions with ANSI off; review r13).  DuckDB's
            # ROW_NUMBER is BIGINT anyway.
            .withColumn("__grn", (F.col("_r") + F.col("_off")).cast("long"))
            .drop("_pid", "_r", "_off")
            .withColumnRenamed("__grn", alias))


def dense_array_agg(sparse: DataFrame, idx: str, val: str,
                    n: int, alias: str) -> DataFrame:
    """ONE-row dense ``array<long>`` from a sparse (idx, val) relation:
    left-join against ``range(n)`` to zero-fill absent slots, then
    collect in slot order.  The shared tail of both distributed
    array-sketch builders — ``joins.bloom_bitmap`` (bit_or words) and
    ``aggregates.cms_sketch`` (bucket counts) — extracted so the
    hard-won lessons encoded there (DENSE array, never map<k,v>:
    ``element_at`` on Spark's ArrayBasedMapData is a linear scan,
    measured 126 s vs 27 s at the 100× fixture; struct-sort before
    transform for a deterministic order) live in one place
    (review r10)."""
    spark = sparse.sparkSession
    dense = (spark.range(n).withColumnRenamed("id", idx)
             .join(sparse, idx, "left")
             .select(idx, F.coalesce(val, F.lit(0)).alias(val)))
    return dense.agg(F.expr(
        f"transform(array_sort(collect_list(struct({idx}, {val}))), "
        f"s -> s.{val})").alias(alias))
