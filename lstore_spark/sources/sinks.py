"""§2.1 Sink round-trip: write a query result to parquet, read it back.

The lstore write path (append → segment → indexed segment) maps to
"write partitioned parquet with stats/blooms"; this exercises the write
codec + schema round-trip.  Bloom filters are enabled on the string key
column at write time — the direct analog of lstore's pbloom-indexed
segments (SURVEY.md §4.2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType)

from ..catalog import (build_bucket_layout, build_once, fresh_scratch_dir,
                       load_table, routed_tables, scratch_dir)
from ..numerics import dsum
from ..registry import query


# Layout rewrites (DPP, z-order) are catalog.build_once artifacts under
# catalog.scratch_dir, so repeated sweeps/bench runs reuse one copy
# instead of leaking a fixture-sized mkdtemp per invocation (ADVICE r7);
# the versioned tags (dpp2/zorder3) bust the cache if the producing code
# changes.


@query(
    "q_sink_parquet",
    oracle="""
SELECT event_type,
       CAST(ts AS DATE) AS day,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
         AS sum_value
FROM events
GROUP BY event_type, CAST(ts AS DATE)
""",
)
def q_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate events per (event_type, day), write to parquet partitioned
    by event_type with a bloom filter on the partition-local sort key,
    re-read and return; the oracle recomputes the aggregate directly, so
    the comparison proves write→read fidelity of the sink.  At 100 TB the
    same shape: partition by coarse key, sort within files so row-group
    stats are selective."""
    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "sum_value"))
    )
    out = fresh_scratch_dir("sink", sf_dir)
    (
        agg.repartition("event_type")
        .sortWithinPartitions("day")
        .write.mode("overwrite")
        # Bloom filters on the data columns (the claimed pbloom analog;
        # 'day' is the partition-local sort key the docstring names).
        # Two review-r10 traps measured directly against this runtime's
        # parquet-hadoop 1.16: (a) the old target 'enabled#event_type'
        # was a silent no-op — event_type is the hive-PARTITION column
        # and never appears inside the files; (b) the per-column
        # 'parquet.bloom.filter.enabled#<col>' form is ALSO silently
        # ignored by this writer (verified by byte-identical outputs),
        # while the global enable + adaptive sizing below demonstrably
        # writes right-sized bitsets (file grows by the bloom bytes).
        .option("parquet.bloom.filter.enabled", "true")
        .option("parquet.bloom.filter.adaptive.enabled", "true")
        .partitionBy("event_type")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.select("event_type", "day", "n", "sum_value")


_RT_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
])


_RT_ORACLE = """
SELECT event_id, user_id, event_type, value
FROM events WHERE event_id < 1000
"""


def _event_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE round-trip event slice (review r12: the filter+projection was
    copy-pasted across the CSV/ORC/JSON/XML round-trips — changing the
    bound or column set required four coordinated edits)."""
    return (load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") < 1000)
            .select("event_id", "user_id", "event_type", "value"))


@query(
    "q_source_csv_roundtrip",
    oracle=_RT_ORACLE,
)
def q_source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink+source round-trip: write an event slice as headered CSV,
    read it back under a declared schema; values must survive the text
    codec exactly (doubles round-trip via Spark's shortest-repr writer).
    Oracle compares against the original parquet — end-to-end fidelity."""
    ev = _event_slice(spark, sf_dir)
    out = fresh_scratch_dir("csv", sf_dir)
    ev.write.mode("overwrite").option("header", "true").csv(out)
    return spark.read.schema(_RT_SCHEMA).option("header", "true").csv(out)


@query(
    "q_source_orc_roundtrip",
    oracle=_RT_ORACLE,
)
def q_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink+source round-trip: the second columnar format Spark ships
    natively (row-group stats + optional blooms like parquet); an
    lstore-style store exported for a Hive-era consumer goes through
    exactly this path.  Oracle compares against the original parquet."""
    ev = _event_slice(spark, sf_dir)
    out = fresh_scratch_dir("orc", sf_dir)
    (ev.write.mode("overwrite")
       .option("orc.bloom.filter.columns", "event_type")
       .orc(out))
    return spark.read.schema(_RT_SCHEMA).orc(out)


@query(
    "q_source_json_roundtrip",
    oracle=_RT_ORACLE,
)
def q_source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink+source round-trip under a declared schema (the
    interchange format of every ingestion pipeline)."""
    ev = _event_slice(spark, sf_dir)
    out = fresh_scratch_dir("json", sf_dir)
    ev.write.mode("overwrite").json(out)
    return spark.read.schema(_RT_SCHEMA).json(out)


@query(
    "q_source_partition_prune",
    oracle="""
SELECT user_id, COUNT(*) AS n, MIN(event_id) AS min_id, MAX(event_id) AS max_id
FROM events WHERE event_type = 'purchase'
GROUP BY user_id
""",
)
def q_source_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + partition pruning: write events
    partitioned by event_type, read back with a partition-column filter,
    aggregate per user.  The read plan must show the filter as a
    ``PartitionFilters`` entry (directory-level pruning, zero I/O for
    other types — asserted in tests/test_plans.py); this is the Spark
    twin of lstore's segment-skipping read path (SURVEY.md §4.2) and the
    layout that makes a 100 TB event log cheap to query by type/date.
    Oracle recomputes from the original table, proving the partitioned
    write→prune→read path end-to-end."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type")
    out = fresh_scratch_dir("part", sf_dir)
    (ev.repartition("event_type")
       .write.mode("overwrite")
       .partitionBy("event_type")
       .parquet(out))
    back = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"))


@query(
    "q_source_bucketed_join",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_lines,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
         AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def q_source_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-co-located join over the catalog's published orderkey
    layout (``catalog.build_bucket_layout``, a ``build_once`` artifact:
    the first call writes it, later calls find it published and run no
    job), joined with NO Exchange on either side (plan-asserted in
    tests/test_plans.py).  At 100 TB bucketing the fact tables on their
    join key removes the dominant shuffle of every order-grain query —
    the single highest-leverage physical design choice.  The oracle
    recomputes from the raw tables, proving bucketed write→read
    fidelity."""
    build_bucket_layout(spark, sf_dir)
    t = routed_tables(spark, sf_dir, "lineitem", "orders")
    li = t["lineitem"].select("l_orderkey", "l_quantity").hint("merge")
    od = t["orders"].select("o_orderkey", "o_orderpriority")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_lines"),
             dsum(F.col("l_quantity"), "sum_qty"))
    )


@query(
    "q_maint_compact_segments",
    oracle="""
SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id,
       CAST(SUM(user_id) AS BIGINT) AS sum_user
FROM events
GROUP BY CAST(ts AS DATE)
""",
)
def q_maint_compact_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the lstore indexer's raw→indexed segment
    rewrite (indexer.go [UNVERIFIED: pub]) as an OPTIMIZE-style
    bin-packing pass: events land day-partitioned from 8 concurrent
    writer tasks (8 small files per day — the many-small-appends state
    every streaming ingest produces), then ``compact_store`` bin-packs
    each day to ~128 MiB targets in ONE shuffle job.  The oracle
    recomputes per-day aggregates from the raw table, so the comparison
    proves the rewrite moved every row and lost none; pytest additionally
    asserts the file count collapses.  At 100 TB the identical plan:
    listing is O(#partitions) metadata, the rewrite is one salted
    shuffle sized by the bin-pack plan."""
    from ..scale import compact_store

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", F.col("ts").cast("date").alias("day"))
    store = fresh_scratch_dir("compactsrc", sf_dir)
    (ev.repartition(8)
       .write.mode("overwrite")
       .partitionBy("day")
       .parquet(store))
    # compacted output INSIDE the PID-scoped store (underscore prefix =
    # invisible to the store's own parquet listing), so the scratch
    # reaper covers it; the old sibling default (<store>_compacted)
    # escaped the reap pattern and leaked a fixture-sized dir per dead
    # PID (review r10)
    out, _plan = compact_store(spark, store,
                               out=os.path.join(store, "_compacted"))
    back = spark.read.parquet(out)
    return back.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.sum("user_id").alias("sum_user"))


@query(
    "q_maint_retention_purge",
    oracle="""
WITH b AS (
  SELECT LEAST(MIN(CAST(ts AS DATE)) + 14, MAX(CAST(ts AS DATE))) AS cutoff
  FROM events
)
SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id
FROM events, b
WHERE CAST(ts AS DATE) >= b.cutoff
GROUP BY CAST(ts AS DATE)
""",
)
def q_maint_retention_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention purge — the lstore remover/purger re-expressed as
    partition lifecycle: events land day-partitioned (segment ≈ day
    partition), expired partitions are DROPPED as whole directories
    (no row-level scanning — retention cost is O(partitions), not
    O(rows), exactly like deleting aged-out segment files), and the
    surviving table is read back.  The oracle recomputes the kept
    window from the raw table, proving the purge removed exactly the
    expired days.  At 100 TB this is `ALTER TABLE ... DROP PARTITION`
    against a catalog; here the same semantics via the filesystem.

    The 14-day retention cutoff is DATA-RELATIVE (min day + 14, capped
    at max day so ≥1 partition always survives): fixture regeneration
    has already drifted once (the r3 ts-encoding switch), and an
    absolute date literal would crash the re-read — an empty partition
    root has no schema to infer — if the generator ever shifted the
    event date domain."""
    import datetime
    import shutil

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("date").alias("day"))
    lo, hi = ev.agg(F.min("day"), F.max("day")).first()
    cutoff = min(lo + datetime.timedelta(days=14), hi).isoformat()
    out = fresh_scratch_dir("retain", sf_dir)
    (ev.repartition("day")
       .write.mode("overwrite")
       .partitionBy("day")
       .parquet(out))
    # Purge expired partitions by directory — no data read, no rewrite.
    # THE purge implementation lives in scale.purge_before (review r12:
    # this was an inline copy, so the NULL-day fix there would have
    # missed this path).
    from ..scale import purge_before
    purge_before(spark, out, cutoff)
    back = spark.read.parquet(out)
    return back.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"))


@query(
    "q_source_schema_evolution",
    oracle="""
SELECT event_id, user_id, value, CAST(NULL AS VARCHAR) AS event_type
FROM events WHERE event_id < 500
UNION ALL
SELECT event_id, user_id, value, event_type
FROM events WHERE event_id >= 500 AND event_id < 1000
""",
)
def q_source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the segment store: old segments were written
    before a column existed (lstore's positional rows make adding a slot
    an append-only schema change; the parquet analog is mergeSchema).
    Segment A (event_id < 500) is written WITHOUT event_type; segment B
    (500 ≤ event_id < 1000) adds it.  Reading the store with
    ``mergeSchema=true`` unions the footers into the widest schema and
    back-fills NULL for the old files — exactly the oracle's UNION ALL
    with a typed NULL.  At 100 TB schema merge happens on footer
    metadata only (no data rewrite), which is why it is THE evolution
    mechanism for append-only stores."""
    ev = load_table(spark, sf_dir, "events")
    out = fresh_scratch_dir("evo", sf_dir)
    (ev.filter(F.col("event_id") < 500)
     .select("event_id", "user_id", "value")
     .write.mode("append").parquet(out))
    (ev.filter((F.col("event_id") >= 500) & (F.col("event_id") < 1000))
     .select("event_id", "user_id", "value", "event_type")
     .write.mode("append").parquet(out))
    return (
        spark.read.option("mergeSchema", "true").parquet(out)
        .select("event_id", "user_id", "value", "event_type")
    )


def zorder_key(a, b, bits: int = 16):
    """Morton (Z-order) key: bit-interleave two non-negative ints so that
    a range-partition + sort on the single key clusters BOTH dimensions
    simultaneously — every output file then carries a tight min/max span
    on each column, and a predicate on EITHER dimension skips most files
    (row groups) via ordinary parquet stats.  Pure JVM integer ALU via a
    HOF fold — no UDF, no shuffle beyond the range partitioner's.

    Inputs are masked to the low ``bits`` first (ADVICE r5): a negative
    value would otherwise sign-extend through shiftright so every bit
    contributes, and an over-range value's high bits silently collide —
    content stays correct either way (the key only orders the rewrite)
    but clustering quality would degrade.  The mask makes the key
    well-defined on any long: out-of-domain values interleave their low
    bits, which still clusters them coherently."""
    mask = (1 << bits) - 1
    return F.expr(
        f"aggregate(sequence(0, {bits - 1}), 0L, (acc, i) -> acc"
        f" + shiftleft((shiftright(({a}) & {mask}, i) & 1), 2 * i)"
        f" + shiftleft((shiftright(({b}) & {mask}, i) & 1), 2 * i + 1))")


@query(
    "q_maint_zorder_cluster",
    oracle="""
SELECT event_id, user_id, CAST(floor(value) AS BIGINT) AS vq
FROM events
""",
)
def q_maint_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER analog: rewrite the event store clustered on the
    Morton interleave of (user_id, floor(value)) — range-partition on the
    z-key into a bounded file count, sort within files, write, read back.
    The oracle is the identity content check (clustering must never
    change the data); the *layout* property — every file simultaneously
    tight on BOTH dimensions, so either-dimension predicates skip ~all
    other files — is asserted from the parquet footers in
    tests/test_plans.py::test_zorder_files_tight_on_both_dims.

    Scale: one repartitionByRange (sampled range bounds) + local sort —
    the same single-shuffle cost as any sorted rewrite; no dimension
    table, no join.  This is the standard lakehouse answer when queries
    filter on two orthogonal columns and hive-partitioning on either one
    alone would leave the other unskippable."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.floor("value").cast("long").alias("vq"))

    def write(tmp: str) -> None:
        (
            ev.withColumn("_z", zorder_key("user_id", "vq"))
            .repartitionByRange(8, "_z")
            .sortWithinPartitions("_z")
            # _z has done its job once the rows are ordered — persisting
            # it inflated the cached fixture-sized artifact ~25% for a
            # column no reader selects (review r12)
            .drop("_z")
            .write.mode("overwrite").parquet(tmp)
        )

    out = build_once(scratch_dir("zorder3", sf_dir)[0], write)
    return spark.read.parquet(out).select("event_id", "user_id", "vq")


@query(
    "q_source_xml_roundtrip",
    oracle=_RT_ORACLE,
)
def q_source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink+source round-trip (Spark 4's built-in xml format, rowTag
    framing) under a declared schema — the enterprise-interchange path.
    Doubles survive via the same shortest-repr text codec as CSV/JSON;
    oracle compares against the original parquet."""
    ev = _event_slice(spark, sf_dir)
    out = fresh_scratch_dir("xml", sf_dir)
    (ev.write.mode("overwrite").format("xml")
       .option("rowTag", "event").save(out))
    return (spark.read.schema(_RT_SCHEMA)
            .format("xml").option("rowTag", "event").load(out))


@query(
    "q_source_text_roundtrip",
    oracle="""
SELECT text AS value FROM documents
""",
)
def q_source_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-lines round-trip — the native shape of an LLM training
    corpus on disk (one document per line): write the documents' text
    through the text sink, read it back with the line source.  Document
    identity is positional/absent by design; the oracle's multiset
    compare proves no line is lost, duplicated, or altered."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    out = fresh_scratch_dir("text", sf_dir)
    docs.write.mode("overwrite").text(out)
    return spark.read.text(out)


@query(
    "q_source_dpp_join",
    oracle="""
WITH c AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
t AS (SELECT SUM(n) AS total, COUNT(*) AS nd FROM c),
hot AS (SELECT d FROM c, t WHERE n * nd * 20 >= 21 * total)
SELECT event_type, COUNT(*) AS n_events,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id
FROM (SELECT CAST(ts AS DATE) AS d, event_type, event_id FROM events) e
JOIN hot USING (d)
GROUP BY event_type
""",
)
def q_source_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out
    partitioned-by-day and the days of interest are only known at RUN
    time — they come out of a join against a filtered aggregate
    (busiest purchase days, threshold in pure int64 so both engines
    agree).  Catalyst turns the broadcast side into a
    ``dynamicpruning`` subquery ON THE FACT SCAN, so only the hot days'
    directories are read at all — the join-driven twin of
    q_source_partition_prune's static pruning, and the mechanism that
    makes "join a 100 TB date-partitioned log against this quarter's
    dim slice" read the quarter, not the century.  The plan shape is
    asserted in tests/test_plans.py; the oracle recomputes from the
    unpartitioned table, proving write→DPP-join→read end-to-end."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("ts").cast("date").alias("d"))
    out = build_once(
        scratch_dir("dpp2", sf_dir)[0],
        lambda tmp: ev.repartition("d").write.mode("overwrite")
        .partitionBy("d").parquet(tmp))
    fact = spark.read.parquet(out)
    daily = (ev.filter(F.col("event_type") == "purchase")
             .groupBy("d").agg(F.count(F.lit(1)).alias("n")))
    tot = daily.agg(F.sum("n").alias("total"),
                    F.count(F.lit(1)).alias("nd"))
    hot = (daily.crossJoin(F.broadcast(tot))
           .filter(F.col("n") * F.col("nd") * 20 >= 21 * F.col("total"))
           .select("d"))
    return (fact.join(F.broadcast(hot), "d")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("event_id").alias("min_id"),
                 F.max("event_id").alias("max_id")))
