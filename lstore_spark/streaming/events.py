"""§2.9 Streaming operators — the reference's native domain.

lstore *is* a stream store: consumers follow the log from an offset,
blocking at the tail (SURVEY.md §3.1).  Structured Streaming is the
mandated substrate (BASELINE.json:7).  Because the correctness oracle is
batch DuckDB SQL, every operator here is written once over an event-time
core that runs identically under batch ``read`` (oracle-checkable twin,
registered below) and ``readStream + trigger(availableNow)`` (exercised
by ``run_streaming``/pytest; equality with the batch twin is asserted
there).

Scale: all stateful operators are watermark-bounded (state store holds
only windows newer than watermark − lateness); event streams partition by
user/key so state shards across executors.
"""

from __future__ import annotations

import os


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..catalog import (EVENTS_LOGICAL, SCHEMAS, events_ts_unit,
                       fresh_scratch_dir, load_table, path_of)
from ..numerics import DEC, dsum, sql_dsum
from ..registry import query
from ..session import tune

_FMT = "yyyy-MM-dd HH:mm:ss"


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as an unbounded source: file stream over the parquet log —
    the Spark twin of lstore's tail-follow consumption."""
    # tune() first: the nanosAsLong conf must be set before ANY events
    # read — a driver session that runs a streaming query first would
    # otherwise hit PARQUET_TYPE_ILLEGAL (batch paths get it via
    # load_table, but this path doesn't go through the catalog loader).
    tune(spark)
    # Glob pattern: the file-stream source wants a directory-or-glob (a
    # bare file path trips its basePath check); the glob also naturally
    # extends to "new segment files appear over time" — the lstore tail.
    # Schema choice follows the sniffed footer unit (see catalog.py):
    # NANOS files read as raw longs and divide; MICROS files read natively.
    path = path_of(sf_dir, "events")
    if events_ts_unit(path) == "ns":
        raw = spark.readStream.schema(SCHEMAS["events"]).parquet(path + "*")
        # TIMESTAMP (not NTZ): watermarks require the instant type; session
        # tz is pinned UTC so wall-clock values match the batch twin exactly.
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    raw = spark.readStream.schema(EVENTS_LOGICAL).parquet(path + "*")
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def run_available_now(df: DataFrame, sink_name: str,
                      mode: str = "append") -> DataFrame:
    """Drain a streaming DataFrame with availableNow into a memory sink;
    return the materialized table (bounded-input streaming execution)."""
    q = (
        df.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(sink_name)


@query(
    "q_source_stream_events",
    oracle="""
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
       user_id, event_type, value
FROM events
""",
)
def q_source_stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail the events log as a stream (lstore blocking read): file source
    + availableNow drain into a memory sink, projected like q_scan_full.
    The drained sink must contain every log record exactly once, which is
    precisely what the full-table oracle hash-checks (upgraded from
    rows-only in r5; ts is formatted to a string so both engines compare
    identical µs wall-clock values regardless of timestamp physical
    type)."""
    stream = _events_stream(spark, sf_dir).select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        "user_id", "event_type", "value")
    return run_available_now(stream, "q_source_stream_events_sink")


@query(
    "q_stream_tumbling_count",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
       event_type,
       COUNT(*) AS n,
       {sql_dsum('value', 'sum_value')}
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
""",
)
def q_stream_tumbling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window counts per event_type.  Batch twin of
    ``groupBy(window(ts, '1 hour'), event_type)`` — the window() bucketing
    is identical in batch and streaming; streaming equality is asserted in
    tests/test_streaming.py with a watermark."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "sum_value"))
        .select(
            F.date_format("w.start", _FMT).alias("wstart"),
            "event_type", "n", "sum_value",
        )
    )


@query(
    "q_stream_sliding_sum",
    oracle=f"""
SELECT strftime(time_bucket(INTERVAL '15 minutes', ts)
                - k * INTERVAL '15 minutes', '%Y-%m-%d %H:%M:%S') AS wstart,
       COUNT(*) AS n,
       {sql_dsum('value', 'sum_value')}
FROM events, range(4) AS t(k)
WHERE ts IS NOT NULL
GROUP BY 1
""",
)
def q_stream_sliding_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h length, 15m slide): each event lands in 4
    windows.  The DuckDB twin materializes the 4 window starts per event
    explicitly — same multiset, same aggregates."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "sum_value"))
        .select(F.date_format("w.start", _FMT).alias("wstart"), "n", "sum_value")
    )


@query(
    "q_stream_session_window",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, event_id,
         -- >= not >: Spark session windows are [start, last+gap), so an
         -- event exactly `gap` after the last one opens a NEW session.
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= 1800000000 THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE ts IS NOT NULL
), numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_id
""",
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-min inactivity gap).  Spark side uses
    the native session_window; the oracle is the gaps-and-islands SQL.
    Spark's session end = last_ts + gap, so span is reported as
    max(ts)−min(ts) to stay engine-neutral."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max(us) - F.min(us)).alias("span_us"),
            F.min("ts").alias("start_ts"),
        )
        .select(
            "user_id",
            F.date_format("start_ts", _FMT).alias("session_start"),
            "span_us",
            "n_events",
        )
    )


@query(
    "q_stream_watermark_late",
    oracle=f"""
WITH mx AS (SELECT MAX(ts) AS max_ts FROM events)
SELECT event_type, COUNT(*) AS n, {sql_dsum('value', 'sum_value')}
FROM events, mx
WHERE ts >= mx.max_ts - INTERVAL 24 HOURS
GROUP BY event_type
""",
)
def q_stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data policy, batch-expressible twin: drop events older than
    watermark δ=24h behind max event time, then aggregate.  The streaming
    form is withWatermark('ts','24 hours') (tests/test_streaming.py)."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("max_ts"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .filter(F.col("ts") >= F.col("max_ts") - F.expr("INTERVAL 24 HOURS"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "sum_value"))
    )


def _near_dedup_oracle() -> str:
    # tok/sh staging via the SHARED CTE builder (review r12: this
    # oracle re-spelled dedup.py's staging byte-for-byte)
    from ..llm.dedup import (_PORTABLE_MINHASH_K, portable_minhash_duck_exprs,
                             portable_signature_ctes)
    sig_exprs = ", ".join(portable_minhash_duck_exprs())
    sig_names = ", ".join(f"mh{p}" for p in range(_PORTABLE_MINHASH_K))
    return f"""
WITH {portable_signature_ctes()},
sig AS (
  SELECT doc_id, {sig_exprs} FROM sh
)
SELECT doc_id
FROM (SELECT doc_id,
             ROW_NUMBER() OVER (PARTITION BY {sig_names}
                                ORDER BY doc_id) AS rn
      FROM sig) WHERE rn = 1
"""


@query("q_stream_dedup_near", oracle=_near_dedup_oracle())
def q_stream_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-duplicate dedup, batch-expressible twin: keep the
    first document per full portable-MinHash signature (identical 8-hash
    signature ⇒ near-identical shingle set — the streaming-safe
    equality-key reduction of near-dup detection, since band-join LSH
    needs a self-join streams can't do).  The streaming form is the same
    signature projection followed by ``dropDuplicates([mh0..mh7])`` with
    the state bounded by a watermark — asserted batch≡stream in
    tests/test_streaming.py.  Batch twin keeps the lowest doc_id
    (ROW_NUMBER, deterministic — same discipline as q_stream_dedup_ids).

    Scale: the signature is a pure projection (no shuffle — same shape
    as minhash_signatures); the dedup is one exchange on the 8-hash
    signature key.  Streaming state holds one row per distinct signature
    inside the watermark horizon, not per document."""
    from ..llm.dedup import _PORTABLE_MINHASH_K, portable_signature_frame

    docs = load_table(spark, sf_dir, "documents")
    sig_cols = [f"mh{p}" for p in range(_PORTABLE_MINHASH_K)]
    sig = portable_signature_frame(docs)
    w = Window.partitionBy(*sig_cols).orderBy("doc_id")
    return (sig.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).select("doc_id"))


@query(
    "q_stream_dedup_ids",
    oracle="""
SELECT user_id, event_type, event_id AS first_event_id, value AS first_value
FROM (
  SELECT user_id, event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY event_id) AS rn
  FROM events
) WHERE rn = 1
""",
)
def q_stream_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once-style dedup: first event per (user_id, event_type) in
    log order.  Batch twin is ROW_NUMBER()=1 (deterministic, unlike bare
    dropDuplicates); the streaming form is dropDuplicates on the key with
    a watermark, which sees rows in log order and keeps the same ones."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "event_type",
            F.col("event_id").alias("first_event_id"),
            F.col("value").alias("first_value"),
        )
    )


@query(
    "q_stream_stateful_runagg",
    oracle=f"""
SELECT event_id, user_id,
       CAST(CAST(SUM(CAST(value AS DECIMAL(30,8)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE) AS run_value,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS run_n
FROM events
WHERE ts IS NOT NULL
""",
)
def q_stream_stateful_runagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user aggregate — the canonical stateful-consumer loop
    over the lstore log.  Batch twin: cumulative window (exact decimal).
    Streaming form: transformWithStateInPandas/applyInPandasWithState
    keyed by user_id (tests/test_streaming.py exercises the state
    path).  NULL-ts rows excluded in BOTH engines (review r13): event
    time is the stream's watermark column, an unknown-time row cannot
    participate — and Spark orders NULLs FIRST vs DuckDB's LAST, which
    silently shifted the whole partition's running values."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return ev.select(
        "event_id", "user_id",
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("run_value"),
        F.count(F.lit(1)).over(w).alias("run_n"),
    )


def _attribution_slices(ev):
    """The purchase/view projections + epoch-micros helper shared by the
    three stream-stream join twins (inner/left/fullOuter) — one place so
    a change to the attribution slice cannot silently diverge the trio
    (review r11)."""
    p = (ev.filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("purchase_id"),
                 F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")))
    v = (ev.filter(F.col("event_type") == "view")
         .select(F.col("event_id").alias("view_id"),
                 F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")))
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return p, v, us



@query(
    "q_stream_stream_join",
    oracle="""
SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
       epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND p.event_type = 'purchase' AND v.event_type = 'view'
 AND v.ts <= p.ts
 AND v.ts > p.ts - INTERVAL 1 HOUR
""",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join semantics, batch twin: each purchase matched to
    the user's views in the preceding hour (attribution).  The equi key
    (user_id) carries the join; the time band is a residual filter.  The
    true two-stream form with watermarks on both sides is asserted equal
    in tests/test_streaming.py — watermark + time-range bound is exactly
    what lets the state store evict old view rows at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    p, v, us = _attribution_slices(ev)
    return (
        p.join(v, (F.col("p_user") == F.col("v_user"))
               & (F.col("v_ts") <= F.col("p_ts"))
               & (F.col("v_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")))
        .select("purchase_id", "view_id", F.col("p_user").alias("user_id"),
                (us("p_ts") - us("v_ts")).alias("gap_us"))
    )


@query(
    "q_stream_stream_left_join",
    oracle="""
SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
       CASE WHEN v.event_id IS NULL THEN NULL
            ELSE epoch_us(p.ts) - epoch_us(v.ts) END AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts
 AND v.ts > p.ts - INTERVAL 1 HOUR
""",
)
def q_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join, batch twin: every purchase, with
    its preceding-hour views where they exist and NULLs where none do —
    the attribution query that must not drop unattributed conversions.
    The outer side is what makes the STREAMING form hard: Spark can emit
    the null-padded row only once the view-side watermark proves no
    match can still arrive, so unmatched purchases inside the final
    watermark horizon stay withheld at end-of-stream — the equivalence
    test (tests/test_streaming.py) therefore compares the watermark-safe
    prefix, the same discipline q_stream_foreachbatch_sink documents.

    Scale: identical state shape to the inner form (equi key user_id +
    time-range bound ⇒ state eviction), plus a per-row "matched" bit the
    state store keeps to decide null emission — no extra shuffle."""
    ev = load_table(spark, sf_dir, "events")
    p, v, us = _attribution_slices(ev)
    return (
        p.join(v, (F.col("p_user") == F.col("v_user"))
               & (F.col("v_ts") <= F.col("p_ts"))
               & (F.col("v_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
               "left")
        .select("purchase_id", "view_id", F.col("p_user").alias("user_id"),
                F.when(F.col("view_id").isNull(), F.lit(None))
                .otherwise(us("p_ts") - us("v_ts")).alias("gap_us"))
    )


@query(
    "q_stream_stream_outer_join",
    oracle="""
SELECT p.event_id AS purchase_id, v.event_id AS view_id,
       COALESCE(p.user_id, v.user_id) AS user_id,
       CASE WHEN p.event_id IS NULL OR v.event_id IS NULL THEN NULL
            ELSE epoch_us(p.ts) - epoch_us(v.ts) END AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
FULL JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts
 AND v.ts > p.ts - INTERVAL 1 HOUR
""",
)
def q_stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream join, batch twin (VERDICT r7 #6): the
    attribution ledger that loses NOTHING — matched purchase/view
    pairs, unattributed purchases (view columns NULL), and views that
    converted no purchase within the following hour (purchase columns
    NULL).  Completes the inner/left/full trio.

    The streaming form (both sides watermarked, fullOuter, Spark ≥3.1)
    is asserted equal in tests/test_streaming.py with BOTH null
    directions compared on the watermark-safe prefix: either side's
    null-padded row can only be emitted once the OTHER side's watermark
    proves no match can still arrive.  Scale: same bounded state as the
    inner form (equi key + time-range eviction) plus one matched bit
    per buffered row on each side."""
    ev = load_table(spark, sf_dir, "events")
    p, v, us = _attribution_slices(ev)
    return (
        p.join(v, (F.col("p_user") == F.col("v_user"))
               & (F.col("v_ts") <= F.col("p_ts"))
               & (F.col("v_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
               "fullOuter")
        .select("purchase_id", "view_id",
                F.coalesce("p_user", "v_user").alias("user_id"),
                F.when(F.col("purchase_id").isNull()
                       | F.col("view_id").isNull(), F.lit(None))
                .otherwise(us("p_ts") - us("v_ts")).alias("gap_us"))
    )


@query(
    "q_stream_follow",
    oracle="""
SELECT event_id, user_id, event_type
FROM events WHERE event_id < 900
""",
)
def q_stream_follow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-lived tail-follow (VERDICT r4 item 3) — lstore's blocking
    ``SearchForward`` consumer made literal: a ``processingTime``-
    triggered stream follows the segment store while a producer appends
    live.  Three event slices are appended as segment files by the
    lstore_log writer; segment 1 is published before the stream starts
    and segments 2 and 3 are published only AFTER the consumer's cursor
    has visibly passed the previous one, so the data necessarily spans
    ≥3 micro-batches (no availableNow drain).  Each publish is one
    append job whose commit renames its segment into place — a reader
    never sees a torn segment, and because the stream offset is the
    sealed-segment set (write-once files), restarts and retries can't
    lose or duplicate rows.  The final sink contents equal the full
    slice, which is exactly what the oracle checks."""
    import time

    from ..sources.lstore_log import events_as_segment_rows, register

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_id") < 900)
          .select("event_id", "ts", "user_id", "event_type"))
    # coalesce(0): SUM over an EMPTY slice is NULL, and the publish
    # gate's `sink.count() >= cum[k]` would raise TypeError on None
    # instead of degrading to an empty result (review r11)
    lt = lambda n: F.coalesce(  # noqa: E731
        F.sum((F.col("event_id") < n).cast("long")), F.lit(0))
    cum = ev.agg(lt(300), lt(600)).first()

    live = os.path.join(fresh_scratch_dir("follow", sf_dir), "live")
    os.makedirs(live)
    register(spark)

    def publish(i: int) -> None:
        # repartition(1): one segment per append, so each publish is ONE
        # atomic commit — the consumption gate below then maps cleanly
        # to "previous segment fully consumed"; an empty slice
        # publishes nothing
        lo, hi = ((0, 300), (300, 600), (600, 900))[i]
        batch = ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        (events_as_segment_rows(batch).repartition(1)
         .write.format("lstore_log").option("path", live)
         .mode("append").save())

    publish(0)
    raw = spark.readStream.format("lstore_log").option("path", live).load()
    stream = raw.select(
        F.col("ints")[0].alias("event_id"),
        F.col("ints")[2].alias("user_id"),
        F.col("blobs")[0].cast("string").alias("event_type"),
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("q_stream_follow_sink")
        .outputMode("append")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    # try/finally: an error anywhere in the gate loop or drain must
    # still stop the 100ms-triggered query — a leaked active query
    # keeps scanning the scratch dir AND blocks every later invocation
    # of this key on the duplicate queryName (review r10)
    try:
        sink = spark.table("q_stream_follow_sink")
        # Publish gate: stage k+1 goes live only after the sink shows
        # stage k fully consumed — forces ≥3 distinct micro-batches.
        # The deadline only bounds the gating loop; the final drain is
        # unconditional (processAllAvailable blocks until the cursor
        # reaches the tail), so a slow machine delays the key but can
        # never truncate its result.
        next_stage, deadline = 1, time.time() + 120
        while next_stage < 3 and time.time() < deadline:
            if sink.count() >= cum[next_stage - 1]:
                publish(next_stage)
                next_stage += 1
            else:
                time.sleep(0.1)
        while next_stage < 3:  # deadline hit: publish the rest anyway
            publish(next_stage)
            next_stage += 1
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table("q_stream_follow_sink")


@query(
    "q_stream_foreachbatch_sink",
    oracle="""
WITH mx AS (SELECT MAX(ts) AS m FROM events)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
       event_type, COUNT(*) AS n
FROM events, mx
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= m - INTERVAL 1 HOUR
GROUP BY 1, 2
""",
)
def q_stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batch sink: stream → tumbling-hour aggregate → foreachBatch
    writes each micro-batch to parquet → re-read the sink output.
    This is the lstore indexer analog: raw log in, compacted aggregate
    segments out.  Upgraded from rows-only in r5: append-mode emission is
    deterministic — a window emits iff window.end ≤ final watermark
    (max event time − 1 h), regardless of micro-batch boundaries, which
    is exactly the oracle's predicate (boundary semantics probed
    empirically: both ≤ and < agree on continuous-timestamp data)."""
    out_dir = fresh_scratch_dir("febsink", sf_dir)
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", _FMT).alias("wstart"), "event_type", "n")
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    # The checkpoint must live INSIDE the wiped sink dir: a surviving
    # sibling checkpoint marks the input as already processed, so the
    # rerun emits zero batches into the freshly-wiped sink (caught by
    # the suite right after the fresh_scratch_dir conversion).  The
    # underscore prefix keeps the parquet reader from listing it.
    q = (
        agg.writeStream.foreachBatch(write_batch)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(
        StructType([
            StructField("wstart", StringType()),
            StructField("event_type", StringType()),
            StructField("n", LongType()),
        ])
    ).parquet(out_dir)


@query(
    "q_stream_static_join",
    oracle=f"""
SELECT c.c_mktsegment, COUNT(*) AS n, {sql_dsum('e.value', 'sum_value')}
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
GROUP BY 1
""",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment — the most common production streaming
    shape: a live event stream joined to a slowly-changing dimension
    (customer), then aggregated by a dimension attribute.  The static
    side is broadcast, so the stream NEVER shuffles for the join — at
    100 TB/day of events the per-micro-batch cost stays map-side; the
    only shuffle is the 5-group aggregate.  Batch twin registered here
    (identical plan semantics: stream-static inner joins are stateless);
    the true readStream form is asserted equal in
    tests/test_streaming.py::test_stream_static_join_equals_batch."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    # stats-gated like the TPC-H family (review r13: this was the one
    # ungated customer broadcast left — the SF-scaled dim outgrows the
    # build side past SF~133, the exact shape mutations.py gated in r10)
    from ..catalog import fits_broadcast
    if fits_broadcast(sf_dir, "customer"):
        cust = F.broadcast(cust)
    return (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "sum_value"))
    )


@query(
    "q_stream_active_daily",
    oracle="""
SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS dau
FROM events GROUP BY CAST(ts AS DATE)
""",
)
def q_stream_active_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users as a STREAMING problem: COUNT(DISTINCT) is
    unsupported in streaming aggregation, so the production form CHAINS
    two stateful operators in one query — dropDuplicates((day, user))
    then a 1-day windowed count — which Spark supports in append mode
    since multiple-stateful-operator support landed (asserted
    stream≡batch for watermark-closed days in tests/test_streaming.py::
    test_stream_chained_dedup_agg_equals_batch).  This batch twin is
    the same dedupe-then-count, collapsed: distinct (day, user) pairs,
    then a per-day count.  Scale: one shuffle to dedupe, one tiny
    per-day rollup — dedup state holds (day, user) keys inside the
    watermark horizon only."""
    ev = load_table(spark, sf_dir, "events")
    # COUNT(user_id) over the distinct pairs, NOT a pre-filter +
    # COUNT(*): the r11 pre-filter dropped NULL users' ROWS, so a day
    # whose events all carry NULL user_id vanished entirely where the
    # oracle's GROUP BY still emits (day, 0) — count(col) skips the
    # (day, NULL) pair while keeping the day's group (review r12)
    return (ev.select(F.col("ts").cast("date").alias("day"), "user_id")
            .distinct()
            .groupBy("day").agg(F.count("user_id").alias("dau")))
